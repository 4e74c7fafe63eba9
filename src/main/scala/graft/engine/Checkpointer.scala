package graft.engine

import graft.model.{EpochMetrics, FrontierEntry, PageRow}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile, LocalOutputFile, OutputFile}
import org.apache.spark.sql.{DataFrame, Encoders, GraftSqlBridge, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructField,
  StructType}
import org.apache.spark.sql.functions.{count, lit}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** Durable snapshot commits with per-partition lineage + metrics.
  *
  * The north rule asks for Iceberg-snapshot semantics; no Iceberg jar ships
  * in this sandbox (SURVEY §7), so this realizes the same contract with
  * partitioned Parquet + an atomic JSON manifest written LAST (rename =
  * commit point). A real Iceberg catalog drops in behind this interface.
  *
  * Layout: `<dir>/epoch_<e>/` holds one Parquet directory per table
  * (`frontier`, `seen`, `signatures`, `host_tokens`, `pages`) and
  * `manifest.json`. `host_tokens` is the engine's host ledger, one row per
  * host in LRU order (eldest first): `tokens_milli`, `throttle_ms` (the 429
  * Retry-After override) and `latency_ema` (null before the host's first
  * timed fetch); a snapshot written before the last two columns existed
  * reads them as null. The manifest records the epoch, its parent snapshot
  * (the one this snapshot follows in its chain; -1 at a chain start), the
  * driver ledger (budget/scope/seq/sitemap chain), per-table row + partition
  * counts (lineage) and the per-epoch metrics series.
  *
  * The pages table is a chain of deltas (a changelog of immutable parts):
  * `epoch_<e>/pages` holds only the pages handed to that commit, the pages
  * since the parent snapshot, and the manifest's `pages_chain` lists the
  * snapshot epochs whose deltas make up the table; [[readTable]] reads the
  * chain as one relation. A commit therefore writes O(delta) pages, not the
  * crawl so far. The other tables are whole in every snapshot.
  *
  * A table whose plan is a driver-held `LocalRelation` (optionally under a
  * `Repartition`) is written on the driver as one `part-00000.parquet`
  * through Spark's own Parquet write support, with no Spark job; any other
  * plan is written by Spark. [[readLocal]] reads a flat table back on the
  * driver, again with no job.
  *
  * A commit happens only when [[due]]. The engine starts each chain with
  * [[startChain]]: at -1 for a fresh crawl, at the restored epoch for a
  * resumed one. The lineage lets a restore size every table before reading
  * it.
  */
class Checkpointer(spark: SparkSession, dir: String, every: Int = 1) {
  private[engine] val root = Paths.get(dir).toAbsolutePath.normalize
  Files.createDirectories(root)

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  // the chain head: the snapshot the next commit follows (-1: none)
  private var head = -1L

  /** Starts the chain the next commit extends: `parent` is -1 for a fresh
    * crawl, or a committed epoch of this directory that a resumed crawl
    * continues from (its pages chain becomes the next commit's prefix).
    */
  def startChain(parent: Long): Unit = head = parent

  /** Whether epoch `epoch` takes a snapshot (every `every`-th epoch).
    * Callers test it BEFORE building `commit`'s arguments, which may cost
    * work a non-commit epoch must not pay.
    */
  def due(epoch: Long): Boolean = every > 0 && epoch % every == 0

  /** Commits snapshot `epoch`. `pages` holds only the pages since the
    * chain's head snapshot (see [[startChain]]); every other table is whole.
    */
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
    // lineage from the write itself: (rows, part files). A driver-held table
    // is written right here; any other runs once as a Spark job with an
    // observed count riding it. The Spark writes are independent, so they
    // run side by side (threads made here inherit this thread's Spark local
    // properties)
    def sparkWrite(name: String, df: DataFrame): (Long, Long) = {
      val out = snapDir.resolve(name)
      val rows = Observation(s"ckpt_$name")
      df.observe(rows, count(lit(1)).as("rows")).write.mode("overwrite").parquet(out.toString)
      val n = rows.get("rows").asInstanceOf[Long]
      val parts = Files.list(out)
      val partFiles = try parts.filter(_.getFileName.toString.startsWith("part-")).count()
        finally parts.close()
      (n, partFiles)
    }
    val local = tables.flatMap { case (name, df) =>
      GraftSqlBridge.localRows(df).map { rows =>
        Checkpointer.writeLocal(spark, snapDir.resolve(name), rows, df.schema)
        name -> (rows.size.toLong, 1L)
      }
    }.toMap
    val distributed = tables.filterNot(t => local.contains(t._1))
    val written = local ++ (if (distributed.isEmpty) Map.empty else {
      val pool = Executors.newFixedThreadPool(distributed.size)
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.traverse(distributed) { case (name, df) =>
          Future(name -> sparkWrite(name, df)) }, Duration.Inf).toMap
      } finally pool.shutdown()
    })
    val (prefix, prefixRows) =
      if (head < 0) (Nil, 0L)
      else {
        val m = manifestAt(head)
        (Checkpointer.pagesChain(m, head), Checkpointer.lineageRows(m).getOrElse("pages", 0L))
      }
    val chain = prefix :+ epoch
    val pagesTotal = prefixRows + written("pages")._1
    val lineage = tables.map { case (name, _) =>
      val (n, parts) = written(name)
      if (name == "pages")
        s"""{"table":${q(name)},"rows":$pagesTotal,"partitions":$parts,"delta_rows":$n}"""
      else s"""{"table":${q(name)},"rows":$n,"partitions":$parts}"""
    }
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
      s"""{"epoch":$epoch,"parent":$head,"pages_chain":${chain.mkString("[", ",", "]")},
         |"seq_counter":$seqCounter,
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
    head = epoch
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

  /** Table `name` of snapshot `epoch`; for `pages`, the snapshot's whole
    * chain of deltas as one relation.
    */
  def readTable(epoch: Long, name: String): DataFrame = {
    val epochs = if (name == "pages") Checkpointer.pagesChain(manifestAt(epoch), epoch) else Seq(epoch)
    val paths = epochs.map(e => root.resolve(s"epoch_$e").resolve(name).toString)
    Checkpointer.schemas.get(name)
      .fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))
  }

  /** A flat table (`frontier`, `seen`, `signatures`, `host_tokens`) of
    * snapshot `epoch`, read on the driver with no Spark job; the rows follow
    * the table's schema. For tables a restore keeps on the driver anyway.
    */
  def readLocal(epoch: Long, name: String): Vector[Row] = {
    val schema = Checkpointer.schemas(name)
    val files = {
      val s = Files.list(root.resolve(s"epoch_$epoch").resolve(name))
      try s.iterator().asScala.filter { p =>
        val f = p.getFileName.toString
        !f.startsWith("_") && !f.startsWith(".")
      }.toVector.sorted finally s.close()
    }
    files.flatMap(f => Checkpointer.readParquetLocal(f, schema))
  }

  def readManifest(epoch: Long): String = manifestAt(epoch)

  // the reads a commit and a chain read make themselves, apart from the
  // public (overridable) readManifest
  private def manifestAt(epoch: Long): String =
    Files.readString(root.resolve(s"epoch_$epoch").resolve("manifest.json"))
}

object Checkpointer {
  /** The committed tables' schemas: a restore reads each table without a
    * footer-inference job, and the engine builds its driver-held tables
    * with them.
    */
  private[engine] val schemas: Map[String, StructType] = {
    def cols(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })
    Map(
      "frontier" -> Encoders.product[FrontierEntry].schema,
      "seen" -> cols("url_lower" -> StringType, "url" -> StringType),
      "signatures" -> cols("sig" -> LongType),
      "host_tokens" -> cols("host" -> StringType, "tokens_milli" -> LongType, "throttle_ms" -> LongType,
        "latency_ema" -> DoubleType),
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

  /** Whether snapshot `epoch`'s own metrics entry records a budget stop
    * (every commit writes the entry of its epoch).
    */
  def budgetStopped(manifest: String, epoch: Long): Boolean =
    ("\\{\"epoch\":" + epoch + ",[^}]*\"budget_stopped\":true").r
      .findFirstIn(manifest.substring(math.max(0, manifest.indexOf("\"metrics\":")))).isDefined

  /** A top-level numeric field of a manifest (`seq_counter`, `parent`, …). */
  def longField(manifest: String, key: String): Option[Long] =
    ("\"" + key + "\":(-?\\d+)").r.findFirstMatchIn(manifest).map(_.group(1).toLong)

  /** A string field of a manifest, unescaped (`redirect_host`, …). */
  def strField(manifest: String, key: String): Option[String] =
    ("\"" + key + "\":" + Str).r.findFirstMatchIn(manifest).map(m => unescape(m.group(1)))

  /** The snapshot epochs whose pages deltas make up snapshot `epoch`'s
    * pages table, oldest first; a manifest without the key holds its
    * whole pages table itself.
    */
  def pagesChain(manifest: String, epoch: Long): Seq[Long] =
    "\"pages_chain\":\\[([-\\d,]*)\\]".r.findFirstMatchIn(manifest)
      .map(_.group(1).split(',').filter(_.nonEmpty).map(_.toLong).toSeq)
      .getOrElse(Seq(epoch))

  /** One JSON quoted string (the writer's `q()` escaping), body captured. */
  private val Str = "\"((?:[^\"\\\\]|\\\\.)*)\""
  private def unescape(s: String): String =
    "(?s)\\\\(.)".r.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(m.group(1)))

  private def strArray(manifest: String, key: String): Seq[String] =
    ("\"" + key + "\":\\[((?:" + Str + "(?:,)?)*)\\]").r
      .findFirstMatchIn(manifest).map(_.group(1)).map { body =>
        Str.r.findAllMatchIn(body).map(m => unescape(m.group(1))).toSeq
      }.getOrElse(Nil)

  /** Writes `rows` (of `schema`) as `out/part-00000.parquet` on the driver,
    * through Spark's own Parquet write support with the session's Parquet
    * settings, so Spark reads the file like one it wrote itself.
    */
  private def writeLocal(spark: SparkSession, out: Path, rows: Seq[InternalRow],
      schema: StructType): Unit = {
    if (Files.exists(out)) {
      val s = Files.walk(out)
      try s.iterator().asScala.toSeq.reverse.foreach(p => Files.delete(p)) finally s.close()
    }
    Files.createDirectories(out)
    val sq = spark.sessionState.conf
    val conf = new Configuration(false)
    ParquetWriteSupport.setSchema(GraftSqlBridge.asNullable(schema), conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, sq.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, sq.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, sq.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sq.legacyParquetNanosAsLong.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sq.parquetAnnotateVariantLogicalType.toString)
    val codec = sq.parquetCompressionCodec.toUpperCase(java.util.Locale.ROOT) match {
      case "NONE" => CompressionCodecName.UNCOMPRESSED
      case c => CompressionCodecName.valueOf(c)
    }
    val w = new RowWriter(new LocalOutputFile(out.resolve("part-00000.parquet")))
      .withConf(conf).withCompressionCodec(codec).build()
    try rows.foreach(w.write) finally w.close()
  }

  private final class RowWriter(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriter](file) {
    override protected def self(): RowWriter = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** The rows of one Parquet file of a flat table, read on the driver and
    * projected onto `schema` by column name; a column the file lacks reads
    * as null.
    */
  private def readParquetLocal(file: Path, schema: StructType): Vector[Row] = {
    // plain options: a Hadoop configuration would load its XML defaults
    val reader = ParquetFileReader.open(new LocalInputFile(file),
      ParquetReadOptions.builder(new PlainParquetConfiguration).build())
    try {
      val fileSchema = reader.getFooter.getFileMetaData.getSchema
      val cols = schema.fields.map(f =>
        (if (fileSchema.containsField(f.name)) fileSchema.getFieldIndex(f.name) else -1, f.dataType))
      val io = new ColumnIOFactory().getColumnIO(fileSchema)
      val out = Vector.newBuilder[Row]
      var group = reader.readNextRowGroup()
      while (group != null) {
        val records = io.getRecordReader(group, new GroupRecordConverter(fileSchema))
        var i = 0L
        while (i < group.getRowCount) {
          val g = records.read()
          out += Row.fromSeq(cols.toSeq.map { case (k, t) =>
            if (k < 0 || g.getFieldRepetitionCount(k) == 0) null
            else t match {
              case StringType => g.getString(k, 0)
              case LongType => g.getLong(k, 0)
              case IntegerType => g.getInteger(k, 0)
              case DoubleType => g.getDouble(k, 0)
              case other => throw new IllegalArgumentException(s"readLocal: no reader for $other")
            }
          })
          i += 1
        }
        group = reader.readNextRowGroup()
      }
      out.result()
    } finally reader.close()
  }
}
