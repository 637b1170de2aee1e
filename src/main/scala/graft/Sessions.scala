package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: every main and the test suite
  * share the same local-mode settings. */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else every core of the machine. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cpus]` with one shuffle partition per core, AQE on, UTC session
    * time, no UI and WARN logging; `extraConf` pairs are set on top. */
  def local(cpus: Int, extraConf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extraConf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
