package graft.engine

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs per epoch window: the `onEpoch` hook tags the jobs that
  * follow it with the next epoch (a local property rides each job's start
  * event), so the window after the last epoch holds the jobs that run until
  * `crawl` returns; `counts` flushes the listener bus with a marker job
  * first. Each job is its last stage's call site plus its description.
  */
final class EpochJobs(spark: SparkSession) extends SparkListener {
  private val Key = "graft.test.window"
  private val seen = new java.util.concurrent.ConcurrentHashMap[String, List[(String, String)]]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { w =>
      val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
      val desc = Option(e.properties.getProperty("spark.job.description")).getOrElse("")
      seen.merge(w, List((site, desc)), (a, b) => a ++ b)
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
}
