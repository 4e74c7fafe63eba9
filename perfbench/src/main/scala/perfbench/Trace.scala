package perfbench

import graft.engine.{Checkpointer, FetchResult, Fetcher, RobotsProvider, ScopeState}
import graft.model.{EpochMetrics, FrontierEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Wall clock in fractional epoch milliseconds, so driver-side spans and
  * Spark listener event times (epoch milliseconds) share one axis.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def ms(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** One traced interval: (name, start, end, parent, run id). */
final case class SpanRec(id: Long, name: String, startMs: Double, endMs: Double, parent: Long, run: String)

/** In-memory span store of one run, written out once when the run ends. */
final class Spans(val run: String) {
  private val buf = new ConcurrentLinkedQueue[SpanRec]()
  private val ids = new AtomicLong(0)
  def reserve(): Long = ids.incrementAndGet()
  def add(name: String, startMs: Double, endMs: Double, parent: Long, id: Long = 0L): Long = {
    val i = if (id > 0) id else reserve()
    buf.add(SpanRec(i, name, startMs, endMs, parent, run))
    i
  }
  def size: Int = buf.size
  def write(path: java.nio.file.Path): Unit = {
    val lines = buf.asScala.toSeq.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"parent":${s.parent},"run":${Json.str(s.run)}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Counters at the engine seams. Local mode runs every task in the driver
  * JVM, so executor-side wrappers add to these JVM-wide adders directly.
  */
object SeamCounters {
  val fetchPages = new LongAdder
  val fetchNs = new LongAdder
  val robotsCalls = new LongAdder
  val robotsNs = new LongAdder
  val robotsHosts = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def reset(): Unit = {
    Seq(fetchPages, fetchNs, robotsCalls, robotsNs).foreach(_.reset())
    robotsHosts.clear()
  }
}

/** A [[Fetcher]] that forwards to `inner` and times every row it pulls
  * from the inner fetch (document generation + redirects). `fetchLocal` is
  * forwarded too, so the engine's small-epoch path still runs.
  */
final class TracedFetcher(inner: Fetcher) extends Fetcher {
  override def fetch(spark: SparkSession, admitted: Dataset[FrontierEntry]): Dataset[FetchResult] = {
    import spark.implicits._
    inner.fetch(spark, admitted).mapPartitions(it => new TracedFetcher.Timed(it))
  }
  override def fetchLocal(entries: Seq[FrontierEntry]): Option[Seq[FetchResult]] = {
    val t0 = System.nanoTime()
    val r = inner.fetchLocal(entries)
    r.foreach { rows =>
      SeamCounters.fetchNs.add(System.nanoTime() - t0)
      SeamCounters.fetchPages.add(rows.size)
    }
    r
  }
}

object TracedFetcher {
  final class Timed(it: Iterator[FetchResult]) extends Iterator[FetchResult] {
    override def hasNext: Boolean = {
      val t0 = System.nanoTime()
      val h = it.hasNext
      SeamCounters.fetchNs.add(System.nanoTime() - t0)
      h
    }
    override def next(): FetchResult = {
      val t0 = System.nanoTime()
      val r = it.next()
      SeamCounters.fetchNs.add(System.nanoTime() - t0)
      SeamCounters.fetchPages.increment()
      r
    }
  }
}

/** A [[RobotsProvider]] that counts and times the raw robots fetches. */
final class TracedRobots(inner: RobotsProvider) extends RobotsProvider {
  override def fetchRobots(host: String): (Int, String) = {
    val t0 = System.nanoTime()
    val r = inner.fetchRobots(host)
    SeamCounters.robotsNs.add(System.nanoTime() - t0)
    SeamCounters.robotsCalls.increment()
    SeamCounters.robotsHosts.add(host)
    r
  }
}

/** A [[Checkpointer]] that times each snapshot commit and each restore
  * read, and sizes what every commit wrote.
  */
final class TimedCheckpointer(spark: SparkSession, dir: String, every: Int, spans: Spans)
    extends Checkpointer(spark, dir, every) {
  val commitMs = ArrayBuffer.empty[Double]
  var bytesWritten = 0L
  var restoreMs = 0.0
  @volatile var parent = 0L

  override def commit(
      epoch: Long,
      frontier: DataFrame, seen: DataFrame, signatures: DataFrame,
      hostTokens: DataFrame, pages: DataFrame,
      seqCounter: Long, wildcardRemaining: Long, pathBudget: Map[String, Long],
      scope: ScopeState, metrics: Seq[EpochMetrics],
      chainStarted: Boolean, chainSitemaps: Seq[String],
      discoveredSitemaps: Seq[String]): Unit = {
    val commits = every > 0 && epoch % every == 0
    val t0 = Clock.ms()
    super.commit(epoch, frontier, seen, signatures, hostTokens, pages, seqCounter,
      wildcardRemaining, pathBudget, scope, metrics, chainStarted, chainSitemaps,
      discoveredSitemaps)
    if (commits) {
      val t1 = Clock.ms()
      spans.add("checkpoint.commit", t0, t1, parent)
      commitMs += t1 - t0
      bytesWritten += Files2.sizeOf(java.nio.file.Paths.get(dir, s"epoch_$epoch"))
    }
  }

  override def readTable(epoch: Long, name: String): DataFrame = {
    val t0 = Clock.ms()
    try super.readTable(epoch, name) finally restoreMs += Clock.ms() - t0
  }

  override def readManifest(epoch: Long): String = {
    val t0 = Clock.ms()
    try super.readManifest(epoch) finally restoreMs += Clock.ms() - t0
  }
}

object Files2 {
  def sizeOf(p: java.nio.file.Path): Long = {
    if (!java.nio.file.Files.exists(p)) return 0L
    val s = java.nio.file.Files.walk(p)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
    finally s.close()
  }

  def deleteTree(p: java.nio.file.Path): Unit = if (java.nio.file.Files.exists(p)) {
    val s = java.nio.file.Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
    finally s.close()
  }
}

/** Per-task and per-job records from the Spark listener bus. */
final case class TaskRec(stage: Int, finishMs: Long, durMs: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)
final case class JobRec(id: Int, startMs: Long, endMs: Long)

final class LayerListener extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.finishTime, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled))
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(e.jobId)
    if (s != null) jobs.add(JobRec(e.jobId, s, e.time))
  }

  def tasksIn(t0: Double, t1: Double): Seq[TaskRec] =
    tasks.asScala.filter(t => t.finishMs >= t0 && t.finishMs <= t1 + 1).toSeq
  def jobsIn(t0: Double, t1: Double): Seq[JobRec] =
    jobs.asScala.filter(j => j.startMs >= t0 - 1 && j.startMs <= t1).toSeq.sortBy(_.startMs)
}

/** Everything the traced legs of a run record: spans, the listener, and
  * the seam counters (reset when the tracer is made).
  */
final class Tracer(val spark: SparkSession, val spans: Spans) {
  val listener = new LayerListener
  SeamCounters.reset()

  /** Runs `f` with the listener attached, so untraced legs in between pay
    * nothing for it; drains the bus before detaching it.
    */
  def traced[T](f: => T): T = {
    spark.sparkContext.addSparkListener(listener)
    try f
    finally {
      org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
