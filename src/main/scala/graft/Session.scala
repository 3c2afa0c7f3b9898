package graft

import org.apache.spark.sql.SparkSession

/** The one local session the CLIs and tools start. */
object Session {

  /** A `local[cpus]` session under the production extension set
    * ([[GraftExtensions]], the injection path a deployment config
    * names), with `cpus` shuffle partitions, UTC session time, no UI
    * and WARN logging. `conf` entries are applied last, so a caller
    * overrides any of these (`spark.sql.extensions` -> "" runs without
    * the extensions).
    */
  def local(cpus: String, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
