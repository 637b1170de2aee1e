package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // catalog tables (bucketed-join tests) land in a temp dir, not ./spark-warehouse
    val s = Sessions.local(4, "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    graft.functions.expressions.register(s)
    s
  }
}
