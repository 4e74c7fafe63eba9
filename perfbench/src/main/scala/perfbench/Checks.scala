package perfbench

import graft.engine.CrawlResult
import graft.oracle.OracleCrawler
import graft.url.UrlOps

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Page tuple checked against the oracle:
  * (url, depth, discovery_seq, status, signature, final_url).
  */
final case class PageKey(url: String, depth: Int, seq: Long, status: Int, signature: Long, finalUrl: String) {
  def hash: Long = Checks.h64(s"$url\u0001$depth\u0001$seq\u0001$status\u0001$signature\u0001$finalUrl")
}

/** Order-free digest of a set: element count and the wrapping sum of the
  * elements' 64-bit hashes.
  */
final case class Digest(n: Long, sum: Long) {
  def line: String = s"$n $sum"
}
object Digest {
  def of(hashes: Iterator[Long]): Digest = {
    var n = 0L
    var s = 0L
    hashes.foreach { h => n += 1; s += h }
    Digest(n, s)
  }
  def parse(line: String): Digest = {
    val Array(n, s) = line.trim.split(" ")
    Digest(n.toLong, s.toLong)
  }
}

/** The oracle's answer for one crawl workload and seed. */
final case class OracleRef(pages: Digest, seen: Digest, epochs: Long,
    pageSet: Option[Set[PageKey]], seenSet: Option[Set[String]], epochOf: Map[String, Long])

object Checks {
  def h64(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    graft.corpus.CorpusGen.mix(h)
  }

  /** Runs the sequential oracle. Wide crawls keep only digests, which are
    * cached per (workload, seed) under `cacheDir`; the polite crawl keeps
    * the full tuple and seen sets (it is small) and is never cached.
    */
  def oracle(spec: CrawlSpec, seed: Long, cacheDir: Path, keepSets: Boolean): OracleRef = {
    val cacheFile = cacheDir.resolve(s"${spec.name}-$seed-${(spec.params, spec.config).hashCode}.oracle")
    if (!keepSets && Files.exists(cacheFile)) {
      val ls = Files.readString(cacheFile).split("\n")
      return OracleRef(Digest.parse(ls(0)), Digest.parse(ls(1)), ls(2).trim.toLong, None, None, Map.empty)
    }
    val o = OracleCrawler.crawl(spec.params, spec.config, spec.robotsProvider, spec.seeds)
    val keys = o.pages.map(p => PageKey(p.url, p.depth, p.seq, p.status, p.signature, nz(p.finalUrl)))
    val ref = OracleRef(Digest.of(keys.iterator.map(_.hash)), Digest.of(o.seen.iterator.map(h64)),
      o.epochs,
      if (keepSets) Some(keys.toSet) else None,
      if (keepSets) Some(o.seen) else None,
      if (keepSets) o.pages.map(p => p.url -> p.epoch).toMap else Map.empty)
    if (!keepSets) {
      Files.createDirectories(cacheDir)
      val tmp = cacheDir.resolve(s".${cacheFile.getFileName}.tmp")
      Files.writeString(tmp, s"${ref.pages.line}\n${ref.seen.line}\n${ref.epochs}\n")
      Files.move(tmp, cacheFile, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    ref
  }

  private def nz(s: String): String = if (s == null) "" else s

  def pageKeys(r: CrawlResult): Array[PageKey] =
    r.pages.select("url", "depth", "discovery_seq", "status", "signature", "final_url")
      .collect().map(x => PageKey(x.getString(0), x.getInt(1), x.getLong(2), x.getInt(3),
        x.getLong(4), nz(x.getString(5))))

  def seenLower(r: CrawlResult): Array[String] =
    r.seen.select("url_lower").collect().map(_.getString(0))

  /** Returns the failures found (empty = the leg is correct). */
  def crawlLeg(leg: CrawlLeg, ref: OracleRef): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val pages = pageKeys(leg.result)
    val seen = seenLower(leg.result)
    val lower = pages.map(p => UrlOps.lowerUtf8(p.url))
    if (lower.distinct.length != lower.length) errs += "page urls are not unique case-insensitively"
    val seenSet = seen.toSet
    if (!lower.forall(seenSet.contains)) errs += "pages are not a subset of seen"
    if (seenSet.size != seen.length) errs += "seen holds duplicate keys"
    (ref.pageSet, ref.seenSet) match {
      case (Some(ps), Some(ss)) =>
        if (pages.toSet != ps) errs += s"page tuples differ from the oracle (${pages.length} vs ${ps.size})"
        if (seenSet != ss) errs += s"seen set differs from the oracle (${seenSet.size} vs ${ss.size})"
        // the stopped first call must hold exactly the oracle's pages of
        // the epochs it ran
        leg.firstPart.foreach { fp =>
          val got = pageKeys(fp).toSet
          val want = ps.filter(p => ref.epochOf.getOrElse(p.url, Long.MaxValue) < leg.stopEpochs)
          if (got != want) errs += s"stopped call differs from the oracle prefix (${got.size} vs ${want.size})"
        }
      case _ =>
        val pd = Digest.of(pages.iterator.map(_.hash))
        if (pd != ref.pages) errs += s"page digest ${pd.line} != oracle ${ref.pages.line}"
        val sd = Digest.of(seen.iterator.map(h64))
        if (sd != ref.seen) errs += s"seen digest ${sd.line} != oracle ${ref.seen.line}"
    }
    if (leg.fetched <= 0) errs += "no pages fetched"
    errs.result()
  }
}
