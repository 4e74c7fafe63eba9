package graft.engine

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Spark jobs per epoch window: the `onEpoch` hook tags the jobs that
  * follow it with the next epoch (a local property rides each job's start
  * event), so the window after the last epoch holds the jobs that run until
  * `crawl` returns; `counts` flushes the listener bus with a marker job
  * first. Each job is its last stage's call site plus its description.
  * The stages its jobs submit (a skipped stage never is) are recorded too,
  * with their task counts.
  */
final class EpochJobs(spark: SparkSession) extends SparkListener {
  private val Key = "graft.test.window"
  private val seen = new java.util.concurrent.ConcurrentHashMap[String, List[(String, String)]]()
  private val submitted = new java.util.concurrent.ConcurrentHashMap[String, List[EpochJobs.Stage]]()
  private def windowOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(Key)))
  private def descOf(p: java.util.Properties): String =
    Option(p.getProperty("spark.job.description")).getOrElse("")
  override def onJobStart(e: SparkListenerJobStart): Unit =
    windowOf(e.properties).foreach { w =>
      val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
      seen.merge(w, List((site, descOf(e.properties))), (a, b) => a ++ b)
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    windowOf(e.properties).foreach { w =>
      val s = e.stageInfo
      val reads = s.rddInfos.filter(_.name == "ShuffledRDD").map(_.numPartitions)
      val stage = EpochJobs.Stage(descOf(e.properties), s.name, s.numTasks, reads)
      submitted.merge(w, List(stage), (a, b) => a ++ b)
    }
  def window(w: String): Unit = spark.sparkContext.setLocalProperty(Key, w)
  val hook: Long => Unit = e => window((e + 1).toString)
  spark.sparkContext.addSparkListener(this)
  /** window → (call site, description) of each of its jobs */
  def jobs(): Map[String, List[(String, String)]] = {
    window("end")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val t0 = System.nanoTime()
    while (!seen.containsKey("end") && System.nanoTime() - t0 < 30L * 1000000000L)
      Thread.sleep(10)
    window(null)
    spark.sparkContext.removeSparkListener(this)
    import scala.jdk.CollectionConverters._
    seen.asScala.toMap - "end"
  }
  /** window → call sites of its jobs */
  def counts(): Map[String, List[String]] = jobs().map { case (w, js) => (w, js.map(_._1)) }
  /** window → the stages its jobs submitted, in submission order; call
    * after [[jobs]], which flushes the listener bus.
    */
  def stages(): Map[String, List[EpochJobs.Stage]] = {
    import scala.jdk.CollectionConverters._
    submitted.asScala.toMap - "end"
  }
}

object EpochJobs {
  /** A submitted stage: its job's description, its name (call site), its
    * task count, and the partition count of each RDD exchange it reads (a
    * `ShuffledRDD`: `partitionBy`, `reduceByKey`), one reduce task each.
    */
  final case class Stage(desc: String, name: String, tasks: Int, exchangeReads: Seq[Int])
}
