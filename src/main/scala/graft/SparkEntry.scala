package graft

import graft.queries.Queries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with DuckDB oracle SQL (31/31).
  *
  * The sketch operators (MinHash/SimHash/hyperplane-LSH) use md5-derived
  * hashes precisely so their oracle SQL can replay the exact semantics
  * (generated below); the crawl engine queries are pinned against the
  * sequential [[graft.oracle.OracleCrawler]]'s output as VALUES lists
  * (re-asserted by CrawlPinSpec so the pins cannot go stale silently).
  */
object SparkEntry {

  // ------------------------------------------------------------------ //
  // Pinned crawl oracles: the sequential OracleCrawler's page rows on the
  // crawl_basic / crawl_budget (corpus, config, seeds), regenerated with
  // `Test/runMain graft.tools.Drive oracledump` and re-asserted against a live
  // OracleCrawler run by CrawlPinSpec.
  // ------------------------------------------------------------------ //
  private[graft] val crawlBasicRows: Seq[String] = Seq(
    "('https://www.site0.com/',0,200,CAST(-2484313257355071806 AS BIGINT))",
    "('https://www.site0.com/p1.html',1,200,CAST(-6973089615341981956 AS BIGINT))",
    "('https://www.site0.com/docs/en/p2.html',1,200,CAST(-3822099869018361603 AS BIGINT))",
    "('https://www.site0.com/products/en/deep/p3.html',1,200,CAST(2543544740823684712 AS BIGINT))",
    "('https://www.site0.com/legal/p4.html',1,200,CAST(-4209508404840481663 AS BIGINT))",
    "('https://www.site0.com/products/legal/deep/p27.html',1,200,CAST(-8749438792129462578 AS BIGINT))",
    "('https://www.site0.com/p5.html',2,200,CAST(1136163510700663489 AS BIGINT))",
    "('https://www.site0.com/en/fr/p6.html',2,200,CAST(-8487755586748223298 AS BIGINT))",
    "('https://www.site0.com/fr/fr/deep/p7.html',2,200,CAST(6889069706261208407 AS BIGINT))",
    "('https://www.site0.com/docs/p8.html',2,200,CAST(2849308447895504245 AS BIGINT))",
    "('https://www.site0.com/p9.html',2,200,CAST(1983676659082532219 AS BIGINT))",
    "('https://www.site0.com/legal/fr/p10.html',2,200,CAST(6601008149221690089 AS BIGINT))",
    "('https://www.site0.com/items/fr/deep/p11.html',2,200,CAST(-547820293122590771 AS BIGINT))",
    "('https://www.site0.com/en/p12.html',2,200,CAST(-3354229052616008410 AS BIGINT))",
    "('https://www.site0.com/p13.html',2,200,CAST(-3940472219158220818 AS BIGINT))",
    "('https://www.site0.com/docs/docs/p14.html',2,200,CAST(1632425006741457392 AS BIGINT))",
    "('https://www.site0.com/products/docs/deep/p15.html',2,200,CAST(-2093446455528477662 AS BIGINT))",
    "('https://www.site0.com/legal/p16.html',2,200,CAST(8446573411822837721 AS BIGINT))",
    "('https://www.site0.com/p17.html',2,200,CAST(-6245736222654559831 AS BIGINT))",
    "('https://www.site0.com/en/products/p18.html',2,200,CAST(-4005678823591108195 AS BIGINT))",
    "('https://www.site0.com/fr/products/deep/p19.html',2,200,CAST(1714124833417860975 AS BIGINT))",
    "('https://www.site0.com/docs/p20.html',2,200,CAST(-1363511231810520165 AS BIGINT))",
    "('https://www.site0.com/en/p24.html',2,200,CAST(-3280817119667632359 AS BIGINT))",
    "('https://www.site0.com/p21.html',2,200,CAST(4352739125475193180 AS BIGINT))",
    "('https://www.site0.com/legal/products/p22.html',3,200,CAST(3406867114877863972 AS BIGINT))",
    "('https://www.site0.com/items/products/deep/p23.html',3,200,CAST(-6341698409825100498 AS BIGINT))",
    "('https://www.site0.com/p25.html',3,200,CAST(8698222401191285412 AS BIGINT))",
    "('https://www.site0.com/docs/legal/p26.html',3,200,CAST(-2437658066481427565 AS BIGINT))",
    "('https://www.site0.com/legal/p28.html',3,200,CAST(-7340699608935046300 AS BIGINT))",
    "('https://www.site0.com/p29.html',3,200,CAST(8181949331638434744 AS BIGINT))",
    "('https://www.site0.com/en/items/p30.html',3,200,CAST(-6910539296144537450 AS BIGINT))",
    "('https://www.site0.com/fr/items/deep/p31.html',3,200,CAST(-8987838337290858352 AS BIGINT))",
    "('https://www.site0.com/docs/p32.html',3,200,CAST(3384793321840344885 AS BIGINT))",
    "('https://www.site0.com/p33.html',3,200,CAST(-7186862302964273252 AS BIGINT))",
    "('https://www.site0.com/legal/items/p34.html',3,200,CAST(-5897398674688368438 AS BIGINT))",
    "('https://www.site0.com/items/items/deep/p35.html',3,200,CAST(2004829486423751113 AS BIGINT))",
    "('https://www.site0.com/en/p36.html',3,200,CAST(6019062699279811774 AS BIGINT))",
    "('https://www.site0.com/p37.html',3,200,CAST(-7103547567994675530 AS BIGINT))",
    "('https://www.site0.com/docs/en/p38.html',3,200,CAST(7411047633829139829 AS BIGINT))",
    "('https://www.site0.com/products/en/deep/p39.html',3,200,CAST(3633590623307712285 AS BIGINT))")

  private[graft] val crawlBudgetRows: Seq[String] = Seq(
    "('https://www.site0.com/',0,200)",
    "('https://www.site0.com/p1.html',1,200)",
    "('https://www.site0.com/docs/en/p2.html',1,200)",
    "('https://www.site0.com/products/en/deep/p3.html',1,200)",
    "('https://www.site0.com/legal/p4.html',1,200)",
    "('https://www.site0.com/products/legal/deep/p27.html',1,200)",
    "('https://www.site0.com/p5.html',2,200)",
    "('https://www.site0.com/en/fr/p6.html',2,200)",
    "('https://www.site0.com/fr/fr/deep/p7.html',2,200)",
    "('https://www.site0.com/docs/p8.html',2,200)",
    "('https://www.site0.com/p9.html',2,200)")

  /** crawl_throttle pins: the 429/Retry-After reactive-politeness path
    * (reference `rate_limiter.rs:121-137`), with `epoch` pinned so the
    * driver verifies pacing (scenario: Queries.ThrottleScenario).
    */
  private[graft] val crawlThrottleRows: Seq[String] = Seq(
    "('https://www.site0.com/',0,200,CAST(0 AS BIGINT))",
    "('https://www.site0.com/p1.html',1,200,CAST(1 AS BIGINT))",
    "('https://www.site0.com/docs/en/p2.html',1,200,CAST(1 AS BIGINT))",
    "('https://www.site0.com/products/en/deep/p3.html',1,200,CAST(1 AS BIGINT))",
    "('https://www.site0.com/legal/p4.html',1,429,CAST(13 AS BIGINT))",
    "('https://www.site0.com/fr/fr/deep/p7.html',1,200,CAST(1 AS BIGINT))",
    "('https://www.site0.com/p5.html',2,200,CAST(3 AS BIGINT))",
    "('https://www.site0.com/en/fr/p6.html',2,200,CAST(5 AS BIGINT))",
    "('https://www.site0.com/docs/p8.html',2,429,CAST(9 AS BIGINT))",
    "('https://www.site0.com/p9.html',2,200,CAST(11 AS BIGINT))")


  /** crawl_sitemap pins: the A6 chain (sitemap AFTER crawl + recursive
    * sitemapindex walk) — orphan pages reachable only via the sitemaps pin
    * both chain levels (scenario: Queries.SitemapScenario).
    */
  private[graft] val crawlSitemapRows: Seq[String] = Seq(
    "('https://www.site0.com/',0,200)",
    "('https://www.site0.com/p1.html',1,200)",
    "('https://www.site0.com/legal/p28.html',1,200)",
    "('https://www.site0.com/en/p12.html',1,200)",
    "('https://www.site0.com/products/legal/deep/p27.html',1,200)",
    "('https://www.site0.com/p33.html',1,200)",
    "('https://www.site0.com/en/p36.html',1,200)",
    "('https://www.site0.com/products/en/deep/p3.html',2,200)",
    "('https://www.site0.com/legal/p4.html',2,200)",
    "('https://www.site0.com/p13.html',2,200)",
    "('https://www.site0.com/legal/products/p22.html',2,200)",
    "('https://www.site0.com/docs/p8.html',3,200)",
    "('https://www.site0.com/p9.html',3,200)",
    "('https://www.site0.com/legal/fr/p10.html',3,200)",
    "('https://www.site0.com/en/p24.html',3,200)",
    "('https://www.site0.com/en/products/p18.html',4,200)",
    "('https://www.site0.com/legal/items/p34.html',4,200)",
    "('https://www.site0.com/fr/products/deep/p19.html',4,200)",
    "('https://www.site0.com/docs/p20.html',4,200)",
    "('https://www.site0.com/p21.html',4,200)",
    "('https://www.site0.com/en/fr/p6.html',4,200)",
    "('https://www.site0.com/docs/en/p38.html',5,200)",
    "('https://www.site0.com/items/products/deep/p23.html',5,200)",
    "('https://www.site0.com/docs/docs/p14.html',5,200)",
    "('https://www.site0.com/products/en/deep/p39.html',5,200)",
    "('https://www.site0.com/products/docs/deep/p15.html',5,200)",
    "('https://www.site0.com/p29.html',6,200)",
    "('https://www.site0.com/en/items/p30.html',6,200)",
    "('https://www.site0.com/fr/items/deep/p31.html',6,200)")

  /** crawl_blocked pins: the B11 blocked side TABLE (reference
    * `on_robots_blocked` `website.rs:1980-1982`, `blocked_crawl`
    * `page.rs:2446`) — robots-denied /legal/ candidates at their admission
    * epoch, veto-suppressed /docs/ pages at their fetch epoch.
    */
  private[graft] val crawlBlockedRows: Seq[String] = Seq(
    "('https://www.site1.com/legal/p4.html','robots',CAST(1 AS BIGINT))",
    "('https://www.site1.com/docs/en/p2.html','veto',CAST(1 AS BIGINT))",
    "('https://www.site1.com/legal/p16.html','robots',CAST(2 AS BIGINT))",
    "('https://www.site1.com/legal/p28.html','robots',CAST(2 AS BIGINT))",
    "('https://www.site1.com/products/docs/deep/p15.html','veto',CAST(2 AS BIGINT))",
    "('https://www.site1.com/docs/p8.html','veto',CAST(2 AS BIGINT))",
    "('https://www.site1.com/docs/docs/p14.html','veto',CAST(2 AS BIGINT))",
    "('https://www.site1.com/docs/p32.html','veto',CAST(2 AS BIGINT))",
    "('https://www.site1.com/docs/en/p38.html','veto',CAST(2 AS BIGINT))",
    "('https://www.site1.com/docs/legal/p26.html','veto',CAST(2 AS BIGINT))",
    "('https://www.site1.com/legal/products/p22.html','robots',CAST(3 AS BIGINT))")

  /** crawl_sitemap_only pins: the sitemap-ONLY walk (reference
    * `crawl_sitemap()`, `website.rs:6994-7028`) — every page comes from a
    * sitemap listing (depth 1 = /sitemap.xml entries incl. the seed root,
    * depth 2 = nested /sitemap-deep.xml entries); no link ever expands.
    */
  private[graft] val crawlSitemapOnlyRows: Seq[String] = Seq(
    "('https://www.site0.com/',1,200)",
    "('https://www.site0.com/products/en/deep/p3.html',1,200)",
    "('https://www.site0.com/en/fr/p6.html',1,200)",
    "('https://www.site0.com/p9.html',1,200)",
    "('https://www.site0.com/en/p12.html',1,200)",
    "('https://www.site0.com/products/docs/deep/p15.html',1,200)",
    "('https://www.site0.com/en/products/p18.html',1,200)",
    "('https://www.site0.com/p21.html',1,200)",
    "('https://www.site0.com/en/p24.html',1,200)",
    "('https://www.site0.com/products/legal/deep/p27.html',1,200)",
    "('https://www.site0.com/en/items/p30.html',1,200)",
    "('https://www.site0.com/p33.html',1,200)",
    "('https://www.site0.com/en/p36.html',1,200)",
    "('https://www.site0.com/products/en/deep/p39.html',1,200)",
    "('https://www.site0.com/p1.html',2,200)",
    "('https://www.site0.com/docs/p8.html',2,200)",
    "('https://www.site0.com/legal/products/p22.html',2,200)",
    "('https://www.site0.com/p29.html',2,200)")

  // ------------------------------------------------------------------ //
  // Oracle SQL generators for the md5-hash sketch family
  // ------------------------------------------------------------------ //
  private object O {
    /** DuckDB replica of TextFunctions.wordShingles(text, n) over list `w`. */
    def shingles(n: Int): String =
      s"list_distinct([array_to_string(w[i:i+${n - 1}],' ') for i in range(1, greatest(len(w)-${n - 2}, 1))])"

    def docShingleCte(n: Int): String =
      s"WITH w0 AS (SELECT doc_id, string_split(lower(text),' ') AS w FROM documents), " +
        s"d AS (SELECT doc_id, ${shingles(n)} AS sh FROM w0), " +
        "dd AS (SELECT doc_id, sh FROM d WHERE len(sh) > 0)"

    def jac(a: String, b: String): String =
      s"round(len(list_intersect($a,$b))::DOUBLE / len(list_distinct(list_concat($a,$b))), 4)"

    /** TextHash.minhashSig: sig_i = min (a*c_i + b) mod P over shingles. */
    def minhashSigSql: String = {
      val terms = (0 until 16).map { i =>
        val c = graft.functions.TextHash.permMultiplier(i)
        s"list_min([(x.a*$c + x.b) % ${graft.functions.TextHash.MinhashPrime} for x in hp])"
      }
      terms.mkString("[", ", ", "]")
    }

    def minhashPairsSql(bands: Int, r: Int, threshold: Double): String = {
      val bandEq = (0 until bands).map { b =>
        val lo = b * r + 1; val hi = b * r + r
        s"a.sig[$lo:$hi] = b.sig[$lo:$hi]"
      }.mkString(" OR ")
      docShingleCte(3) +
        ", ab AS (SELECT doc_id, sh, list_transform(sh, s -> {'a': CAST('0x'||substr(md5(s),1,7) AS BIGINT), " +
        "'b': CAST('0x'||substr(md5(s),9,7) AS BIGINT)}) AS hp FROM dd), " +
        s"s AS (SELECT doc_id, sh, $minhashSigSql AS sig FROM ab), " +
        s"p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sha, b.sh AS shb " +
        s"FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $bandEq) " +
        s"SELECT id_a, id_b, jaccard FROM (SELECT id_a, id_b, ${jac("sha", "shb")} AS jaccard FROM p) " +
        s"WHERE jaccard >= $threshold"
    }

    def simhashPairsSql(maxHamming: Int): String = {
      val bits = (0 until 60).map { i =>
        s"(CASE WHEN 2*list_sum([(x >> $i) & 1 for x in hs]) >= n THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      docShingleCte(2) +
        ", h AS (SELECT doc_id, list_transform(sh, s -> CAST('0x'||substr(md5(s),1,15) AS BIGINT)) AS hs, len(sh) AS n FROM dd), " +
        s"m AS (SELECT doc_id, $bits AS sim FROM h) " +
        "SELECT id_a, id_b, hamming FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming FROM m a JOIN m b ON a.doc_id < b.doc_id) " +
        s"WHERE hamming <= $maxHamming"
    }

    def ngramJaccardSql(threshold: Double): String =
      docShingleCte(3) +
        " SELECT id_a, id_b, jaccard FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        s"${jac("a.sh", "b.sh")} AS jaccard FROM dd a JOIN dd b ON a.doc_id < b.doc_id) " +
        s"WHERE jaccard >= $threshold"

    /** Similarity.bucketIds: integer-quantized hyperplane bucket for table t. */
    def bucketSql(t: Int, planes: Int, dim: Int): String =
      (0 until planes).map { p =>
        val ws = (0 until dim).map(j => graft.functions.Similarity.hyperplaneWeight(t, p, j))
          .mkString("[", ",", "]")
        s"(CASE WHEN list_sum([CAST(floor(CAST(embedding[j] AS DOUBLE)*1024) AS BIGINT) * ($ws)[j] " +
          s"for j in range(1,${dim + 1})]) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("(", " + ", ")")

    def embeddingNearDupsSql(tables: Int, planes: Int, dim: Int, threshold: Double): String = {
      val buckets = (0 until tables).map(t => s"${bucketSql(t, planes, dim)} AS b$t").mkString(", ")
      val bandEq = (0 until tables).map(t => s"a.b$t = c.b$t").mkString(" OR ")
      s"WITH b AS (SELECT vec_id, embedding, $buckets FROM embeddings) " +
        "SELECT id_a, id_b FROM (SELECT a.vec_id AS id_a, c.vec_id AS id_b, " +
        "list_cosine_similarity(a.embedding, c.embedding) AS cos " +
        s"FROM b a JOIN b c ON a.vec_id < c.vec_id WHERE $bandEq) " +
        s"WHERE cos >= $threshold"
    }

    def annLshSql(tables: Int, planes: Int, dim: Int, k: Int): String = {
      val buckets = (0 until tables).map(t => s"${bucketSql(t, planes, dim)} AS b$t").mkString(", ")
      val bandEq = (0 until tables).map(t => s"c.b$t = q.b$t").mkString(" OR ")
      s"WITH b AS (SELECT vec_id, $buckets FROM embeddings), " +
        s"cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id " +
        s"FROM b c JOIN b q ON q.vec_id < 5 AND c.vec_id <> q.vec_id AND ($bandEq)) " +
        "SELECT query_id, neighbor_id, rank FROM (SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY " +
        "list_cosine_similarity(ce.embedding, qe.embedding) DESC, neighbor_id) AS rank " +
        "FROM cand JOIN embeddings ce ON ce.vec_id = neighbor_id " +
        "JOIN embeddings qe ON qe.vec_id = query_id) " +
        s"WHERE rank <= $k"
    }

    def mediaMetaSql(maxDim: Int): String =
      "WITH c AS (SELECT doc_id, CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS cs FROM documents), " +
        "wh AS (SELECT doc_id, CAST(64 + cs % 1920 AS INT) AS width, " +
        "CAST(64 + (cs >> 17) % 1080 AS INT) AS height FROM c) " +
        "SELECT doc_id AS media_id, " +
        "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'video' ELSE 'audio' END AS kind, " +
        "width, height, " +
        s"CAST(floor(width * least(1.0, $maxDim.0 / greatest(width, height))) AS INT) AS out_width, " +
        s"CAST(floor(height * least(1.0, $maxDim.0 / greatest(width, height))) AS INT) AS out_height " +
        "FROM wh"
  }

  /** Flagship: a full crawl through the engine on the synthetic corpus. */
  def entry(spark: SparkSession): DataFrame = Queries.crawlBasic(spark, "")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // relational core
    "q1_pricing_summary" -> (Queries.q1PricingSummary _),
    "q3_revenue_topk" -> (Queries.q3RevenueTopK _),
    "q_order_priority" -> (Queries.qOrderPriority _),
    "q_anti_join" -> (Queries.qAntiJoin _),
    "q_semi_join" -> (Queries.qSemiJoin _),
    "q_window_rank" -> (Queries.qWindowRank _),
    "q_distinct_count" -> (Queries.qDistinctCount _),
    // crawl-shaped operators
    "c_url_canon" -> (Queries.cUrlCanon _),
    "b_seen_antijoin" -> (Queries.bSeenAntijoin _),
    "b_depth_gate" -> (Queries.bDepthGate _),
    "b_batch_dedup" -> (Queries.bBatchDedup _),
    "b_budget_quota" -> (Queries.bBudgetQuota _),
    "b_politeness_quota" -> (Queries.bPolitenessQuota _),
    "b_asset_filter" -> (Queries.bAssetFilter _),
    "d_priority_score" -> (Queries.dPriorityScore _),
    // text analysis
    "t_token_count" -> (Queries.tTokenCount _),
    "t_quality" -> (Queries.tQuality _),
    "t_langid" -> (Queries.tLangId _),
    "t_fingerprint" -> (Queries.tFingerprint _),
    // dedup family
    "d_exact_classes" -> (Queries.dExactClasses _),
    "d_minhash_pairs" -> (Queries.dMinhashPairs _),
    "d_simhash_pairs" -> (Queries.dSimhashPairs _),
    "d_ngram_jaccard" -> (Queries.dNgramJaccard _),
    "d_embedding_near_dups" -> (Queries.dEmbeddingNearDups _),
    // similarity search
    "s_ann_brute" -> (Queries.sAnnBrute _),
    "s_ann_lsh" -> (Queries.sAnnLsh _),
    "e_centroids" -> (Queries.eCentroids _),
    // streaming-shaped
    "st_tumbling_window" -> (Queries.stTumblingWindow _),
    // crawl end-to-end (engine)
    "crawl_basic" -> (Queries.crawlBasic _),
    "crawl_budget" -> (Queries.crawlBudget _),
    "crawl_throttle" -> (Queries.crawlThrottle _),
    "crawl_sitemap" -> (Queries.crawlSitemapQ _),
    "crawl_sitemap_only" -> (Queries.crawlSitemapOnlyQ _),
    "crawl_blocked" -> (Queries.crawlBlocked _),
    // multimodal plumbing
    "m_media_meta" -> (Queries.mMediaMeta _)
  )

  /** DuckDB equivalents. Every computed column aliased exactly as in the
    * Spark plan; float aggregates rounded; ranks fully tie-broken.
    */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_revenue_topk" ->
      """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q_order_priority" ->
      "SELECT o_orderpriority, count(*) AS n_orders FROM orders GROUP BY o_orderpriority",
    "q_anti_join" ->
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q_window_rank" ->
      """SELECT user_id, event_id, rnk FROM (
        | SELECT user_id, event_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
        | FROM events) WHERE rnk <= 3""".stripMargin,
    "q_distinct_count" ->
      "SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts FROM lineitem GROUP BY l_suppkey",
    "c_url_canon" ->
      """SELECT doc_id,
        | 'https://www.site' || CAST(doc_id % 20 AS VARCHAR) || '.com/' ||
        |  (CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN 'products' WHEN 1 THEN 'legal'
        |    WHEN 2 THEN 'en' WHEN 3 THEN 'docs' WHEN 4 THEN 'article' ELSE 'items' END) ||
        |  '/d' || CAST(doc_id AS VARCHAR) || '.html' AS canon_url,
        | 'www.site' || CAST(doc_id % 20 AS VARCHAR) || '.com' AS host
        |FROM documents""".stripMargin,
    "b_seen_antijoin" ->
      "SELECT doc_id FROM documents WHERE doc_id % 3 = 0 AND doc_id % 2 <> 0",
    "b_depth_gate" ->
      """SELECT doc_id, CAST(doc_id % 5 + 1 AS INT) AS depth FROM documents
        |WHERE doc_id % 5 + 1 <= 3""".stripMargin,
    "b_batch_dedup" ->
      """SELECT 'https://site.com/p' || CAST(doc_id % 100 AS VARCHAR) AS url_lower,
        | min(doc_id) AS first_id, count(*) AS n_variants
        |FROM documents GROUP BY 1""".stripMargin,
    "b_budget_quota" ->
      """SELECT source, doc_id, rn FROM (
        | SELECT source, doc_id,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        | FROM documents) WHERE rn <= 10""".stripMargin,
    "b_politeness_quota" ->
      """SELECT host, doc_id, rn FROM (
        | SELECT doc_id % 40 AS host, doc_id,
        |  row_number() OVER (PARTITION BY doc_id % 40 ORDER BY n_chars DESC, doc_id) AS rn
        | FROM documents) WHERE rn <= 5""".stripMargin,
    "b_asset_filter" ->
      """SELECT doc_id, 'https://site.com/f' || CAST(doc_id AS VARCHAR) ||
        | (CASE CAST(doc_id % 8 AS INT) WHEN 0 THEN '.html' WHEN 1 THEN '.png'
        |   WHEN 2 THEN '.php' WHEN 3 THEN '.pdf' WHEN 4 THEN ''
        |   WHEN 5 THEN '.zip' WHEN 6 THEN '.htm' ELSE '.mp4' END) AS url
        |FROM documents WHERE CAST(doc_id % 8 AS INT) IN (0, 2, 4, 6)""".stripMargin,
    "d_priority_score" ->
      """SELECT doc_id, CAST(1000 - (doc_id % 5) * 100 +
        | (CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN 50 WHEN 1 THEN -200
        |   WHEN 4 THEN 50 WHEN 5 THEN 50 ELSE 0 END) AS INT) AS score
        |FROM documents""".stripMargin,
    "t_token_count" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        | greatest(CAST(ceil(length(text) / 4.0) AS BIGINT),
        |          CAST(len(string_split(text, ' ')) AS BIGINT)) AS n_tokens_bpe
        |FROM documents""".stripMargin,
    "t_quality" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        | round(length(text) * 1.0 / len(string_split(text, ' ')), 4) AS mean_word_len,
        | round(CASE WHEN len(string_split(text, ' ')) < 5 THEN 0.0 ELSE
        |  1.0 - least(0.5, (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 1.0
        |          / greatest(length(text), 1))
        |      - least(0.5, (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) * 1.0
        |          / greatest(length(text), 1)) END, 4) AS quality_score
        |FROM documents""".stripMargin,
    "t_langid" ->
      """SELECT doc_id,
        | CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS INT) AS en_hits,
        | CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' le ', ''))) / 4 AS INT) AS fr_hits
        |FROM documents""".stripMargin,
    "t_fingerprint" ->
      "SELECT doc_id, md5(lower(text)) AS fp FROM documents",
    "d_exact_classes" ->
      """SELECT substr(text, 1, 40) AS dup_key, min(doc_id) AS representative,
        | count(*) AS dup_count
        |FROM documents GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    "e_centroids" ->
      """SELECT label, count(*) AS n, round(avg(embedding[1]), 4) AS c0,
        | round(avg(embedding[2]), 4) AS c1
        |FROM embeddings GROUP BY label""".stripMargin,
    "st_tumbling_window" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
        | count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "s_ann_brute" ->
      """SELECT query_id, neighbor_id, rank FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC, c.vec_id) AS rank
        | FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
        | WHERE c.vec_id <> q.vec_id) WHERE rank <= 5""".stripMargin,
    // sketch family: generated SQL replaying the md5-derived hashes exactly
    "d_minhash_pairs" -> O.minhashPairsSql(bands = 4, r = 4, threshold = 0.4),
    "d_simhash_pairs" -> O.simhashPairsSql(maxHamming = 3),
    "d_ngram_jaccard" -> O.ngramJaccardSql(threshold = 0.5),
    "d_embedding_near_dups" -> O.embeddingNearDupsSql(tables = 4, planes = 4, dim = 64, threshold = 0.3),
    "s_ann_lsh" -> O.annLshSql(tables = 4, planes = 3, dim = 64, k = 5),
    "m_media_meta" -> O.mediaMetaSql(maxDim = 512),
    // crawl engine: pinned OracleCrawler output (see CrawlPinSpec)
    "crawl_basic" ->
      ("SELECT * FROM (VALUES " + crawlBasicRows.mkString(", ") +
        ") AS t(url, depth, status, signature)"),
    "crawl_budget" ->
      ("SELECT * FROM (VALUES " + crawlBudgetRows.mkString(", ") +
        ") AS t(url, depth, status)"),
    "crawl_throttle" ->
      ("SELECT * FROM (VALUES " + crawlThrottleRows.mkString(", ") +
        ") AS t(url, depth, status, epoch)"),
    "crawl_sitemap" ->
      ("SELECT * FROM (VALUES " + crawlSitemapRows.mkString(", ") +
        ") AS t(url, depth, status)"),
    "crawl_sitemap_only" ->
      ("SELECT * FROM (VALUES " + crawlSitemapOnlyRows.mkString(", ") +
        ") AS t(url, depth, status)"),
    "crawl_blocked" ->
      ("SELECT * FROM (VALUES " + crawlBlockedRows.mkString(", ") +
        ") AS t(url, reason, epoch)")
  )
}
