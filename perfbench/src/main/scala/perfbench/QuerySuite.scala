package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}

/** One pass over every `SparkEntry.queries` entry. `rows` holds each
  * query's collected result (column names, rows as JSON) for the check.
  */
final case class SuiteRep(times: Seq[(String, Double)], rows: Map[String, (Seq[String], Array[String])],
    errors: Map[String, String], cpuS: Double, startMs: Double, endMs: Double,
    windows: Seq[(String, Double, Double)]) {
  def totalS: Double = times.map(_._2).sum
}

object QuerySuite {
  val names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Times call + `collect()` of each query (collect, not count: a count
    * lets the optimizer prune the very columns the query computes);
    * failures are recorded, not thrown.
    */
  def rep(spark: SparkSession, dataDir: String, only: Seq[String] = names): SuiteRep = {
    val cpu0 = Cpu.processS()
    val t0 = Clock.ms()
    val times = Seq.newBuilder[(String, Double)]
    val windows = Seq.newBuilder[(String, Double, Double)]
    val collected = Seq.newBuilder[(String, Seq[String], Array[org.apache.spark.sql.Row])]
    val errors = Map.newBuilder[String, String]
    only.foreach { name =>
      val a = Clock.ms()
      try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        collected += ((name, df.schema.fieldNames.toSeq, df.collect()))
      }
      catch { case e: Throwable => errors += name -> String.valueOf(e.getMessage).take(300) }
      val b = Clock.ms()
      times += name -> (b - a) / 1000.0
      windows += ((name, a, b))
    }
    val cpu = Cpu.processS() - cpu0
    val t1 = Clock.ms()
    // rendered outside the timed calls
    val rows = collected.result().map { case (name, cols, rs) => name -> (cols, rs.map(_.json)) }.toMap
    SuiteRep(times.result(), rows, errors.result(), cpu, t0, t1, windows.result())
  }

  /** Writes one pass's results (`<query>.json`: column names, then one JSON
    * row per line) and the oracle SQL, for the DuckDB check in run.py.
    */
  def dumpForCheck(r: SuiteRep, out: Path): Unit = {
    Files.createDirectories(out)
    r.rows.foreach { case (name, (cols, rows)) =>
      Files.writeString(out.resolve(s"$name.json"),
        (cols.map(Json.str).mkString("[", ",", "]") +: rows.toSeq).mkString("", "\n", "\n"))
    }
    val sql = SparkEntry.oracleSql.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",\n", "}")
    Files.writeString(out.resolve("oracle_sql.json"), sql)
  }
}
