package graft.engine

import graft.model.{EpochMetrics, FrontierEntry, PageRow}
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.functions.{count, lit}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Durable snapshot commits with per-partition lineage + metrics.
  *
  * The north rule asks for Iceberg-snapshot semantics; no Iceberg jar ships
  * in this sandbox (SURVEY §7), so this realizes the same contract with
  * partitioned Parquet + an atomic JSON manifest written LAST (rename =
  * commit point). Each snapshot records: epoch, parent epoch, the driver
  * ledger (budget/scope/seq), per-table row + partition counts (lineage),
  * and the per-epoch metrics series. A real Iceberg catalog drops in behind
  * this interface.
  *
  * A commit happens only when [[due]]; the engine asks first, because
  * building the arguments costs a job. The lineage lets a restore size every
  * table before reading it.
  */
class Checkpointer(spark: SparkSession, dir: String, every: Int = 1) {
  private val root = Paths.get(dir)
  Files.createDirectories(root)

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Whether epoch `epoch` takes a snapshot (every `every`-th epoch).
    * Callers test it BEFORE building `commit`'s arguments: reading the
    * pages view flushes the engine's page buffer, a Spark write job that
    * a non-commit epoch must not pay.
    */
  def due(epoch: Long): Boolean = every > 0 && epoch % every == 0

  def commit(
      epoch: Long,
      frontier: DataFrame, seen: DataFrame, signatures: DataFrame,
      hostTokens: DataFrame, pages: DataFrame,
      seqCounter: Long, wildcardRemaining: Long, pathBudget: Map[String, Long],
      scope: ScopeState, metrics: Seq[EpochMetrics],
      chainStarted: Boolean = false, chainSitemaps: Seq[String] = Nil,
      discoveredSitemaps: Seq[String] = Nil): Unit = {
    if (!due(epoch)) return
    val snapDir = root.resolve(s"epoch_$epoch")
    val tables = Seq("frontier" -> frontier, "seen" -> seen,
      "signatures" -> signatures, "host_tokens" -> hostTokens, "pages" -> pages)
    // lineage from the write itself: each table runs once, an observed
    // count rides that job, and the partitions are the part files written.
    // The tables are independent, so their write jobs run side by side
    // (threads made here inherit this thread's Spark local properties)
    def write(name: String, df: DataFrame): String = {
      val out = snapDir.resolve(name)
      val rows = Observation(s"ckpt_$name")
      df.observe(rows, count(lit(1)).as("rows")).write.mode("overwrite").parquet(out.toString)
      val n = rows.get("rows").asInstanceOf[Long]
      val parts = Files.list(out)
      val partFiles = try parts.filter(_.getFileName.toString.startsWith("part-")).count()
        finally parts.close()
      s"""{"table":${q(name)},"rows":$n,"partitions":$partFiles}"""
    }
    val pool = Executors.newFixedThreadPool(tables.size)
    val lineage = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse(tables) { case (name, df) => Future(write(name, df)) },
        Duration.Inf)
    } finally pool.shutdown()
    val budgetJson = pathBudget.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val metricsJson = metrics.map(m =>
      s"""{"epoch":${m.epoch},"candidates":${m.candidates},"admitted":${m.admitted},""" +
      s""""fetched":${m.fetched},"new_links":${m.new_links},"frontier":${m.frontier_size},""" +
      s""""seen":${m.seen_size},"budget_stopped":${m.budget_stopped},""" +
      s""""robots_blocked":${m.robots_blocked},"vetoed":${m.vetoed}}""").mkString("[", ",", "]")
    // chain lineage (A6): a kill during the sitemap chain must resume
    // mid-chain, not degrade to a plain crawl — chainSitemaps carries every
    // sitemap DOC discovered so far (seed /sitemap.xml + recursive
    // <sitemapindex> locs), bounded by sitemap count
    val chainJson = chainSitemaps.map(q).mkString("[", ",", "]")
    // pre-chain rel=sitemap discoveries (A6 auto-discovery): insertion
    // order is part of the contract — it fixes the chain seeds' injection
    // order and hence the sitemap docs' discovery_seq after a resume
    val discJson = discoveredSitemaps.map(q).mkString("[", ",", "]")
    val manifest =
      s"""{"epoch":$epoch,"parent":${epoch - every},"seq_counter":$seqCounter,
         |"chain_started":$chainStarted,"chain_sitemaps":$chainJson,
         |"discovered_sitemaps":$discJson,
         |"wildcard_remaining":$wildcardRemaining,"path_budget":$budgetJson,
         |"scope":{"sub_matcher":${q(scope.subMatcher)},"parent_host":${q(scope.parentHost)},
         |"parent_scheme":${q(scope.parentScheme)},"redirect_host":${q(scope.redirectHost)},
         |"crawl_base":${q(scope.crawlBase)}},
         |"lineage":[${lineage.mkString(",")}],
         |"metrics":$metricsJson}""".stripMargin
    // write manifest atomically (tmp + rename) = the commit point
    val tmp = root.resolve(s".manifest_$epoch.tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, snapDir.resolve("manifest.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Latest committed epoch (manifest present), or -1. */
  def latestEpoch(): Long = {
    if (!Files.exists(root)) return -1L
    val it = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("epoch_") &&
          Files.exists(p.resolve("manifest.json")))
        .map(_.getFileName.toString.stripPrefix("epoch_").toLong)
        .foldLeft(-1L)(math.max)
    } finally it.close()
  }

  def readTable(epoch: Long, name: String): DataFrame = {
    val path = root.resolve(s"epoch_$epoch").resolve(name).toString
    Checkpointer.schemas.get(name)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  def readManifest(epoch: Long): String =
    Files.readString(root.resolve(s"epoch_$epoch").resolve("manifest.json"))
}

object Checkpointer {
  /** The committed tables' schemas: a restore reads each table without a
    * footer-inference job.
    */
  private val schemas: Map[String, StructType] = {
    def cols(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })
    Map(
      "frontier" -> Encoders.product[FrontierEntry].schema,
      "seen" -> cols("url_lower" -> StringType, "url" -> StringType),
      "signatures" -> cols("sig" -> LongType),
      "host_tokens" -> cols("host" -> StringType, "tokens_milli" -> LongType),
      "pages" -> Encoders.product[PageRow].schema)
  }

  /** Parse the chain lineage out of a manifest. URLs may legally contain
    * commas and brackets, so the array is walked as JSON quoted strings
    * (matching the writer's `q()` escaping) — never split on ','.
    */
  def chainState(manifest: String): (Boolean, Seq[String]) = {
    val started = manifest.contains("\"chain_started\":true")
    (started, strArray(manifest, "chain_sitemaps"))
  }

  /** Pre-chain rel=sitemap discoveries, in original insertion order. */
  def discoveredSitemaps(manifest: String): Seq[String] =
    strArray(manifest, "discovered_sitemaps")

  /** The driver budget ledger. Keys are accumulated path segments and may
    * hold any character (`wikiSpecial:Random`, `,`, `}` or `"`), so they
    * are walked as JSON quoted strings, like the chain lineage.
    */
  def pathBudget(manifest: String): Map[String, Long] =
    ("\"path_budget\":\\{((?:" + Str + ":-?\\d+,?)*)\\}").r
      .findFirstMatchIn(manifest).map { m =>
        (Str + ":(-?\\d+)").r.findAllMatchIn(m.group(1))
          .map(kv => unescape(kv.group(1)) -> kv.group(2).toLong).toMap
      }.getOrElse(Map.empty)

  /** Row count of each committed table, from the manifest's lineage: a
    * restore sizes the tables before reading any of them.
    */
  def lineageRows(manifest: String): Map[String, Long] =
    ("\\{\"table\":" + Str + ",\"rows\":(\\d+)").r.findAllMatchIn(manifest)
      .map(m => unescape(m.group(1)) -> m.group(2).toLong).toMap

  /** One JSON quoted string (the writer's `q()` escaping), body captured. */
  private val Str = "\"((?:[^\"\\\\]|\\\\.)*)\""
  private def unescape(s: String): String = s.replace("\\\"", "\"").replace("\\\\", "\\")

  private def strArray(manifest: String, key: String): Seq[String] =
    ("\"" + key + "\":\\[((?:" + Str + "(?:,)?)*)\\]").r
      .findFirstMatchIn(manifest).map(_.group(1)).map { body =>
        Str.r.findAllMatchIn(body).map(m => unescape(m.group(1))).toSeq
      }.getOrElse(Nil)
}
