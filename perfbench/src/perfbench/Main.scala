package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import Util._

/** Benchmark JVM. One workload per process, one Spark job at a time
  * (a closed loop with a single client) in a `local[4]` session set up
  * like `graft.App`'s.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --result FILE
  *
  * Writes one JSON object to FILE: `correct`, `attempted`, `failed`,
  * `metrics` (end-to-end metrics with trace 0, per-layer with trace 1).
  * With trace 1 the spans and their counters go to DIR/../trace-W-N.json.
  */
object Main {
  val Cores = 4
  val Setups = 3
  /** Timed operations per run, at least: one query pass is too short
    * to be steady alone. */
  val MinReps = 3

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this process, in MB (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  def fmt(m: Seq[(String, (Double, String))]): String =
    m.toMap.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      val num = if (v.isNaN) "0" else if (v.isInfinite) Double.MaxValue.toString else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val result = Paths.get(opts("result"))
    require(Workload.Names.contains(name), s"unknown workload $name")
    Files.createDirectories(work)

    val spark = session(work)
    val tally = new Tally
    val w = Workload(name, spark, seed, tally)

    // set up several times, each in a fresh directory; keep the last
    val setupTimes = (1 to (if (traced) 1 else Setups)).map { i =>
      val d = work.resolve(s"setup-$i")
      val t0 = System.nanoTime()
      w.setup(d)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i > 1) rmrf(work.resolve(s"setup-${i - 1}"))
      dt
    }
    val tw = System.nanoTime()
    w.warmUp()
    System.err.println(f"[perfbench] warm-up ${(System.nanoTime() - tw) / 1e9}%.3f s")

    /** Runs `body` until `secs` have passed and at least `min` times. */
    def loop[T](secs: Double, min: Int)(body: => T): Seq[T] = {
      val end = System.nanoTime() + (secs * 1e9).toLong
      val out = Seq.newBuilder[T]
      var n = 0
      while (n < min || System.nanoTime() < end) { out += body; n += 1 }
      out.result()
    }

    val metrics: Seq[(String, (Double, String))] =
      if (!traced) {
        val reps = loop(seconds, MinReps) {
          val failed = tally.failed
          (w.rep(), tally.failed == failed)
        }
        def show(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
        System.err.println(s"[perfbench] $name setups: ${show(setupTimes)} reps: ${show(reps.map(_._1))}")
        Seq("setup_s" -> (median(setupTimes), "s"),
          "wall_s" -> (w.wall(reps), "s"),
          "peak_rss_mb" -> (peakRssMb(), "MB"),
          "ok_frac" -> ((tally.attempted - tally.failed).toDouble / tally.attempted, "ratio"))
      } else {
        // untraced operations and traced ladder passes alternate, so both
        // see the same JIT and cache state
        val tr = new Tracer(spark)
        val rounds = loop(seconds, 1) {
          val u = w.rep()
          val gc0 = gcSeconds()
          val (m, selfSum) = tr.on(w.ladder(tr))
          (u, m + ("trace.self_sum_s" -> selfSum) + ("jvm.gc_s" -> (gcSeconds() - gc0)))
        }
        Files.writeString(work.resolveSibling(s"trace-$name-$seed.json"), tr.json)
        val passes = rounds.map(_._2)
        val med = passes.flatMap(_.keySet).distinct
          .map(k => k -> median(passes.map(_.getOrElse(k, 0.0)))).toMap
        val u = median(rounds.map(_._1))
        Layers.all.map { case (k, unit) => k -> (med.getOrElse(k, 0.0), unit) } ++ Seq(
          "jvm.peak_exec_mem_bytes" -> (tr.peakExecMem.toDouble, "B"),
          "trace.untraced_s" -> (u, "s"),
          "trace.overhead_s" -> (med("trace.self_sum_s") - u, "s"))
      }

    val correct = tally.failed == 0
    val json = s"""{"correct": $correct, "attempted": ${tally.attempted}, """ +
      s""""failed": ${tally.failed}, "metrics": ${fmt(metrics)}}"""
    Files.writeString(result, json)
    spark.stop()
    rmrf(work)
  }
}
