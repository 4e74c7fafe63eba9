package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType

/** A crawl's parquet sink: per-epoch deltas under a crawl-scoped temp dir
  * (a real deployment points it at the output table's location) plus a
  * driver-side buffer of small-epoch rows, flushed as ONE delta past a row
  * or byte cap instead of a Spark write job per epoch.
  *
  * Deltas land under one generation directory per snapshot, `g<n>`, read
  * as ONE relation — never a per-epoch union, whose plan would grow with
  * the crawl. [[fresh]] is this generation's deltas ∪ the buffer as a
  * driver-held table; reading it runs no job.
  */
private[engine] abstract class Sink[T](spark: SparkSession, prefix: String,
    fileSchema: StructType, tableSchema: StructType) {
  private lazy val dir = CrawlEngine.tempSink(prefix)
  private var gen = 0
  private var written = false
  private var bufN = 0
  private var bufBytes = 0L
  private val buf = scala.collection.mutable.ArrayBuffer.empty[T]

  // derived on a flush only: an encoder costs a reflective schema walk
  protected def encoder: Encoder[T]
  protected def rowCap: Int
  protected def byteCap: Long = Long.MaxValue
  protected def bytesOf(t: T): Long = 0L
  /** A buffered row as a table row; None drops it from the table. */
  protected def row(t: T): Option[Row]
  /** Which delta-file rows the table keeps. */
  protected def keep: Column = lit(true)

  /** Writes one delta into this generation. Deltas are transient working
    * state (read back once, column-pruned): no codec — on node-local disk
    * the compression CPU costs more than the bytes it saves — and no
    * dictionary encoding, whose page builds cost more than the write.
    */
  def write(df: DataFrame, name: String): String = {
    val d = s"$dir/g$gen/$name"
    df.write.option("compression", "none").option("parquet.enable.dictionary", "false").parquet(d)
    written = true
    d
  }

  /** Buffers rows the driver holds; past a cap they flush as one delta. */
  def put(ts: Iterable[T]): Unit = if (ts.nonEmpty) {
    buf ++= ts
    ts.foreach(t => bufBytes += bytesOf(t))
    if (buf.size >= rowCap || bufBytes >= byteCap) {
      bufN += 1
      write(spark.createDataset(buf.toIndexedSeq)(encoder).coalesce(1).toDF(), s"buf_$bufN")
      buf.clear()
      bufBytes = 0L
    }
  }

  /** This generation's deltas ∪ the buffer, as table rows. */
  protected def fresh: Seq[DataFrame] = {
    val files =
      if (!written) None
      else Some(spark.read.schema(fileSchema).option("recursiveFileLookup", "true")
        .parquet(s"$dir/g$gen").filter(keep).select(tableSchema.fieldNames.toSeq.map(col): _*))
    val buffered =
      if (buf.isEmpty) None
      else Some(CrawlEngine.localFrame(spark, buf.flatMap(row), tableSchema))
    files.toSeq ++ buffered
  }

  protected def union(parts: Seq[DataFrame]): DataFrame =
    parts.reduceOption(_.unionByName(_)).getOrElse(CrawlEngine.localFrame(spark, Nil, tableSchema))

  /** After a commit took [[fresh]]: later deltas start a new generation. */
  protected def nextGeneration(): Unit = {
    if (written) { gen += 1; written = false }
    buf.clear()
    bufBytes = 0L
  }
}

/** The A7 page sink: the pages view is the committed snapshot chain ∪
  * pages carried from another checkpoint directory ∪ this generation. A
  * commit writes only [[delta]] into the snapshot's pages delta; the view
  * then reads the committed chain in its place. Retried attempts never
  * reach the view.
  */
private[engine] final class PageSink(spark: SparkSession, retry: RetryPolicy)
    extends Sink[ParsedPage](spark, "graft-pages-", CrawlEngine.parsedSchema,
      Checkpointer.schemas("pages")) {
  /** The committed part of the view: the last commit, or the restored
    * snapshot of the crawl's own checkpoint directory.
    */
  var committed: Option[(Checkpointer, Long)] = None
  /** Pages restored from another directory, which the next commit carries. */
  var carried: Option[DataFrame] = None

  protected def encoder: Encoder[ParsedPage] = Encoders.product[ParsedPage]
  protected def rowCap: Int = CrawlEngine.pageBufCap
  override protected def byteCap: Long = CrawlEngine.pageBufBytes
  // span strings (text and link/media refs) as UTF-16 heap bytes
  override protected def bytesOf(p: ParsedPage): Long =
    if (p.spans == null) 0L
    else p.spans.iterator.map(sp => 2L * ((if (sp.text == null) 0 else sp.text.length) +
      (if (sp.media_ref == null) 0 else sp.media_ref.length))).sum
  override protected def keep: Column =
    !(retry.isRetryable(col("status")) && col("attempt") < retry.maxAttempts)
  protected def row(p: ParsedPage): Option[Row] =
    if (retry.isRetryableStatus(p.status) && p.attempt < retry.maxAttempts) None
    else Some(Row(p.url, p.final_url, p.host, p.depth, p.discovery_seq, p.epoch,
      p.status, p.signature, p.title, p.description, p.og_image, p.charset, p.etag,
      if (p.spans == null) null
      else p.spans.toSeq.map(sp => Row(sp.kind, sp.text, sp.media_ref, sp.offset))))

  def pages: DataFrame =
    union(committed.map { case (ck, e) => ck.readTable(e, "pages") }.toSeq ++ carried ++ fresh)

  /** What the next snapshot's pages delta holds: the pages since the last
    * commit. The buffer alone stays a driver-held table (no job); sink
    * deltas or carried pages make it one Spark write.
    */
  def delta: DataFrame = union(carried.toSeq ++ fresh)

  def committedTo(ck: Checkpointer, epoch: Long): Unit = {
    committed = Some((ck, epoch))
    carried = None
    nextGeneration()
  }
}

/** One blocked side-output row (B11 parity). */
private[engine] final case class BlockedRow(url: String, reason: String, epoch: Long)

/** The blocked side-output sink: blocked URLs are data-scale on a
  * robots-heavy crawl, so they never accumulate on the driver. Small-path
  * rows (bounded per epoch by the threshold) buffer up to a row cap;
  * distributed epochs write deltas directly.
  */
private[engine] final class BlockedSink(spark: SparkSession)
    extends Sink[BlockedRow](spark, "graft-blocked-", CrawlEngine.blockedSchema,
      CrawlEngine.blockedSchema) {
  private var deltas = 0
  protected def encoder: Encoder[BlockedRow] = Encoders.product[BlockedRow]
  protected def rowCap: Int = CrawlEngine.blockedBufCap
  protected def row(b: BlockedRow): Option[Row] = Some(Row(b.url, b.reason, b.epoch))

  /** Writes a delta; the count rides the write as an observed metric, so
    * there is no read-back job.
    */
  def writeCounted(df: DataFrame, tag: String): Long = {
    deltas += 1
    val rows = org.apache.spark.sql.Observation(s"blocked_$deltas")
    write(df.observe(rows, count(lit(1)).as("rows")), s"delta_${deltas}_$tag")
    rows.get("rows").asInstanceOf[Long]
  }

  def table: DataFrame = union(fresh)
}
