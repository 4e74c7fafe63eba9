package graft.engine

import graft.corpus.{CorpusGen, CorpusParams}
import graft.model.{FrontierEntry, Span}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One fetched row before parsing: the frontier entry + the fetch outcome.
  * `f_final_url` differs from `url` after redirects (client-side follow,
  * limit 7 — reference `redirect_limit` `configuration.rs:868`).
  */
final case class FetchResult(
    url: String,
    host: String,
    depth: Int,
    discovery_seq: Long,
    priority: Int,
    attempt: Int,
    f_status: Int,
    f_final_url: String,
    f_spans: Array[Span],
    /** server `Retry-After` on 429/503, ms (0 = absent) — drives the
      * per-host rate reduction (reference `rate_limiter.rs:121-137`). */
    f_retry_after_ms: Long = 0L,
    /** response latency, ms — drives the latency-EMA auto-throttle
      * (reference `auto_throttle.rs`). */
    f_latency_ms: Long = 0L,
    /** response charset (reference `page.rs:3849-3870` detection chain;
      * surfaced as a page column — C9). */
    f_charset: String = null,
    /** server ETag (reference `utils/etag_cache.rs`, applied
      * `website.rs:7979-7990`; conditional-revalidation key — C9). */
    f_etag: String = null
)

/** The pluggable fetch stage — the engine's re-expression of the
  * reference's `RemoteFetcher` seam (`spider/src/fetcher.rs:1-106`): swaps
  * the network round-trip while keeping ALL other crawl machinery (gate,
  * visited, budgets, robots, extraction, politeness).
  *
  * CONTRACT — full consumption: the returned Dataset must derive from
  * `admitted` and the fetch must execute it completely (every partition,
  * every row), because the engine's visited-set bloom shards and hot-host
  * salt statistics ride the admitted scan inside the fetch job (zero
  * dedicated jobs on the happy path). A fetcher that samples, limits, or
  * serves from a detached plan is DETECTED (the drain compares reporting
  * partitions against the stage's partition count) and the engine
  * self-heals with a dedicated rebuild scan of the persisted admitted
  * set — correct, but one extra job per violating epoch.
  */
trait Fetcher extends Serializable {
  def fetch(spark: SparkSession, admitted: Dataset[FrontierEntry]): Dataset[FetchResult]

  /** OPTIONAL driver-local fast path for TINY admitted batches (the
    * engine's small-epoch path, bounded by `smallEpochThreshold`): return
    * `Some(results)` computed locally with semantics IDENTICAL to
    * [[fetch]] on the same entries (same per-row outcome, any order), or
    * `None` (the default) to run the Spark path. A toy-scale epoch of a
    * few dozen rows otherwise pays a full Spark job (plan + schedule +
    * collect) just to evaluate a pure function; implementing this for a
    * driver-computable fetcher removes that fixed cost. The engine never
    * calls this above the small-epoch threshold, and the ride-along
    * admit-stats contract does not apply (the small path keeps its own
    * driver-side stats).
    */
  def fetchLocal(entries: Seq[FrontierEntry]): Option[Seq[FetchResult]] = None
}

/** Fetches from the deterministic synthetic corpus by evaluating the pure
  * generator function per partition — no corpus materialization, so bench
  * scales to any frontier size (10^10 URLs never hit disk). Redirects are
  * followed client-side up to `redirectLimit` hops.
  */
final class GenerativeFetcher(params: CorpusParams, redirectLimit: Int = 7) extends Fetcher {
  override def fetch(spark: SparkSession, admitted: Dataset[FrontierEntry]): Dataset[FetchResult] = {
    val p = params
    val rl = redirectLimit
    admitted.mapPartitions(it => it.map(GenerativeFetcher.fetchOne(p, rl, _)))(CrawlEngine.fetchResultEncoder)
  }

  /** Same pure per-entry function, evaluated on the driver (small epochs). */
  override def fetchLocal(entries: Seq[FrontierEntry]): Option[Seq[FetchResult]] =
    Some(entries.map(GenerativeFetcher.fetchOne(params, redirectLimit, _)))
}

object GenerativeFetcher {
  /** The single per-entry fetch semantics, shared by the distributed
    * mapPartitions and the driver-local fast path (and mirroring
    * OracleCrawler's inline copy).
    */
  private[engine] def fetchOne(p: CorpusParams, rl: Int, e: FrontierEntry): FetchResult = {
    var url = e.url
    var doc = CorpusGen.docFor(p, url)
    var hops = 0
    while (doc != null && doc.status >= 300 && doc.status < 400 && doc.redirect_to != null && hops < rl) {
      url = doc.redirect_to
      doc = CorpusGen.docFor(p, url)
      hops += 1
    }
    val lat = CorpusGen.latencyMsFor(p, e.host)
    if (doc == null) FetchResult(e.url, e.host, e.depth, e.discovery_seq, e.priority, e.attempt, 404, url, Array.empty, 0L, lat)
    else if (doc.status >= 300 && doc.status < 400)
      FetchResult(e.url, e.host, e.depth, e.discovery_seq, e.priority, e.attempt, 310, url, Array.empty, 0L, lat) // too many redirects
    else FetchResult(e.url, e.host, e.depth, e.discovery_seq, e.priority, e.attempt, doc.status, url, doc.spans,
      if (doc.status == 429) CorpusGen.retryAfterMsFor(p, url) else 0L, lat,
      doc.charset, if (doc.status == 200) CorpusGen.etagFor(p, url) else null)
  }
}

/** A-side `seed_html` seam (reference `Website::with_seed_html`
  * `website.rs:1304`, consumed in `_crawl_establish`
  * `website.rs:4104-4360`): caller-supplied fetch results for specific
  * URLs — those URLs are NEVER fetched; the crawl starts from the provided
  * content (links extracted, gates applied) while every other URL
  * delegates to `inner`. The seeded map is broadcast (seed sets are tiny
  * by contract); frontier bookkeeping fields are taken from the admitted
  * entry, content fields from the provided result.
  */
final class SeededFetcher(inner: Fetcher, seeded: Map[String, FetchResult]) extends Fetcher {
  override def fetch(spark: SparkSession, admitted: Dataset[FrontierEntry]): Dataset[FetchResult] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(seeded)
    val hit = admitted.filter(e => bc.value.contains(e.url)).map { e =>
      val c = bc.value(e.url)
      c.copy(url = e.url, host = e.host, depth = e.depth,
        discovery_seq = e.discovery_seq, priority = e.priority, attempt = e.attempt,
        f_final_url = if (c.f_final_url == null) e.url else c.f_final_url)
    }
    val miss = admitted.filter(e => !bc.value.contains(e.url))
    hit.unionByName(inner.fetch(spark, miss))
  }

  override def fetchLocal(entries: Seq[FrontierEntry]): Option[Seq[FetchResult]] = {
    val (hits, misses) = entries.partition(e => seeded.contains(e.url))
    inner.fetchLocal(misses).map { missResults =>
      hits.map { e =>
        val c = seeded(e.url)
        c.copy(url = e.url, host = e.host, depth = e.depth,
          discovery_seq = e.discovery_seq, priority = e.priority, attempt = e.attempt,
          f_final_url = if (c.f_final_url == null) e.url else c.f_final_url)
      } ++ missResults
    }
  }
}

/** C9 — ETag conditional revalidation (reference `utils/etag_cache.rs`,
  * applied `website.rs:7979-7990`): `cache` holds the previously-fetched
  * result per URL (keyed by the URL, carrying its ETag) and stands in for
  * an If-None-Match header store. When the inner fetch answers **304 Not
  * Modified**, the cached body is reused — the emitted row is identical to
  * an unconditional re-fetch of unchanged content (status/spans/charset/
  * etag from the cache, bookkeeping from the live entry). A 304 with no
  * cache entry passes through untouched (the engine's retry ladder treats
  * it as a non-retryable status).
  */
final class RevalidatingFetcher(inner: Fetcher, cache: Map[String, FetchResult]) extends Fetcher {
  override def fetch(spark: SparkSession, admitted: Dataset[FrontierEntry]): Dataset[FetchResult] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cache)
    inner.fetch(spark, admitted).map { f =>
      if (f.f_status != 304) f
      else bc.value.get(f.url).map { c =>
        c.copy(url = f.url, host = f.host, depth = f.depth,
          discovery_seq = f.discovery_seq, priority = f.priority, attempt = f.attempt,
          f_retry_after_ms = f.f_retry_after_ms, f_latency_ms = f.f_latency_ms)
      }.getOrElse(f)
    }
  }

  override def fetchLocal(entries: Seq[FrontierEntry]): Option[Seq[FetchResult]] =
    inner.fetchLocal(entries).map(_.map { f =>
      if (f.f_status != 304) f
      else cache.get(f.url).map { c =>
        c.copy(url = f.url, host = f.host, depth = f.depth,
          discovery_seq = f.discovery_seq, priority = f.priority, attempt = f.attempt,
          f_retry_after_ms = f.f_retry_after_ms, f_latency_ms = f.f_latency_ms)
      }.getOrElse(f)
    })
}

/** Whole-crawl cache warm start (reference `try_cache_shortcircuit`
  * `website.rs:6962`): a repeat crawl is served from a PRIOR crawl's
  * `pages` table — admitted URLs left-join the table distributedly (AQE
  * broadcasts the smaller side; at 100 TB both sides shuffle on `url`,
  * never a driver map), hits replay the recorded status/final_url/spans/
  * charset/etag with zero body fetches, and only misses reach `inner`.
  * Cached hits report latency 0 (they cost no round-trip), so the
  * EMA auto-throttle correctly never paces them.
  *
  * CONTRACT: `priorPages` must be unique by `url` (an engine `pages` table
  * is, by the frontier's unique-by-lower(url) invariant). A caller-built
  * union of several crawls' tables must be deduplicated first (e.g. keep
  * the latest epoch per url) — duplicate cache rows would multiply
  * admitted rows through the left join and break the pages-unique-by-url
  * invariant downstream (r5 advice).
  */
final class WarmStartFetcher(inner: Fetcher, priorPages: DataFrame) extends Fetcher {
  override def fetch(spark: SparkSession, admitted: Dataset[FrontierEntry]): Dataset[FetchResult] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cache = priorPages.select(col("url").as("c_url"),
      col("final_url").as("c_final_url"), col("status").as("c_status"),
      col("spans").as("c_spans"), col("charset").as("c_charset"), col("etag").as("c_etag"))
    val joined = admitted.toDF().join(cache, admitted("url") === col("c_url"), "left")
    val hits = joined.filter(col("c_url").isNotNull).select(
      col("url"), col("host"), col("depth"), col("discovery_seq"),
      col("priority"), col("attempt"), col("c_status").as("f_status"),
      coalesce(col("c_final_url"), col("url")).as("f_final_url"),
      coalesce(col("c_spans"),
        array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>"))
        .as("f_spans"),
      lit(0L).as("f_retry_after_ms"), lit(0L).as("f_latency_ms"),
      col("c_charset").as("f_charset"), col("c_etag").as("f_etag")).as[FetchResult]
    val misses = joined.filter(col("c_url").isNull)
      .select(col("url"), col("host"), col("depth"), col("discovery_seq"),
        col("priority"), col("attempt"), col("not_before")).as[FrontierEntry]
    hits.unionByName(inner.fetch(spark, misses))
  }
}

object Fetcher {
  /** Driver-side warm-start cache for the broadcast seams
    * ([[SeededFetcher]]: hits never fetched; [[RevalidatingFetcher]]:
    * 304 → cached row): prior `pages` rows → per-URL [[FetchResult]].
    * The map is collected and broadcast, so bound it — `maxRows` caps the
    * collect (keep it to the hot set at scale; use [[WarmStartFetcher]]
    * for whole-table warm starts, which never leave the executors).
    */
  def cacheFromPages(pages: DataFrame, maxRows: Int = 100000): Map[String, FetchResult] = {
    import org.apache.spark.sql.functions._
    pages.select(col("url"), col("final_url"), col("status"), col("spans"),
        col("charset"), col("etag"))
      .limit(maxRows).collect().map { r =>
        val spans = r.getSeq[org.apache.spark.sql.Row](3).map(s =>
          Span(s.getString(0), s.getString(1), s.getString(2), s.getInt(3))).toArray
        r.getString(0) -> FetchResult(r.getString(0), null, 0, 0L, 0, 0,
          r.getInt(2), r.getString(1), spans, 0L, 0L, r.getString(4), r.getString(5))
      }.toMap
  }
}

/** Fetches by joining the admitted batch against a corpus TABLE in
  * input_hint shape (`doc_id, spans` + sidecars) — the production path when
  * documents live in a real table. Redirect chains resolve via bounded
  * iterative re-join (corpus chains are short; each hop is one broadcastable
  * join of the still-redirecting subset).
  */
final class TableFetcher(docs: DataFrame, redirectLimit: Int = 7) extends Fetcher {
  override def fetch(spark: SparkSession, admitted: Dataset[FrontierEntry]): Dataset[FetchResult] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = docs.select(
      col("doc_id"), col("spans"), col("status").as("d_status"), col("redirect_to"))
    var cur = admitted.toDF()
      .join(d, admitted("url") === d("doc_id"), "left")
      .select(admitted("url"), col("host"), col("depth"), col("discovery_seq"),
        col("priority"), col("attempt"),
        coalesce(col("d_status"), lit(404)).as("f_status"),
        col("url").as("f_final_url"), col("spans").as("f_spans"), col("redirect_to"))
    var hops = 0
    while (hops < redirectLimit) {
      // resolve one redirect hop for rows still carrying a redirect_to
      val pending = cur.filter(col("f_status").between(300, 399) && col("redirect_to").isNotNull)
      if (pending.isEmpty) hops = redirectLimit
      else {
        val done = cur.filter(!(col("f_status").between(300, 399) && col("redirect_to").isNotNull))
        val next = pending.drop("f_status", "f_spans", "f_final_url")
          .withColumnRenamed("redirect_to", "r_to")
          .join(d, col("r_to") === d("doc_id"), "left")
          .select(col("url"), col("host"), col("depth"), col("discovery_seq"),
            col("priority"), col("attempt"),
            coalesce(col("d_status"), lit(404)).as("f_status"),
            col("r_to").as("f_final_url"), col("spans").as("f_spans"), col("redirect_to"))
        cur = done.unionByName(next)
        hops += 1
      }
    }
    cur.withColumn("f_status",
        when(col("f_status").between(300, 399), lit(310)).otherwise(col("f_status")))
      .withColumn("f_spans", coalesce(col("f_spans"),
        array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>")))
      .drop("redirect_to")
      // corpus tables carry no header sidecars — no Retry-After / latency /
      // charset / etag
      .withColumn("f_retry_after_ms", lit(0L))
      .withColumn("f_latency_ms", lit(0L))
      .withColumn("f_charset", lit(null).cast("string"))
      .withColumn("f_etag", lit(null).cast("string"))
      .as[FetchResult]
  }
}
