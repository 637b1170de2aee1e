package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional: restrict to named queries
    // default to every core: the dump is the driver's gate and the machine
    // is otherwise idle during it
    val spark = Sessions.local(Sessions.defaultCpus)
    new java.io.File(outDir).mkdirs()
    // Run query dumps on a small driver-side pool: each query is mostly
    // fixed cost (analysis + codegen + a short 32-thread job), so 4
    // concurrent Spark jobs overlap planning with execution and cut the
    // engine dump wall ~2x (the driver's verification window is the
    // binding budget). SparkSession is thread-safe for concurrent actions;
    // the FIFO scheduler interleaves the jobs' tasks.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt
    val work = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => DataFrame)]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach(work.add)
    val threads = (1 to math.max(1, par)).map { _ =>
      new Thread(() => {
        var item = work.poll()
        while (item != null) {
          val (name, fn) = item
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage.take(500)}")
          }
          item = work.poll()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
