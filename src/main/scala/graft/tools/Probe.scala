package graft.tools

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.{Bench, Sessions}

/** Per-query timing and plan shape, timed the way [[graft.Bench]] times a
  * query: DataFrame construction plus the noop write inside the timed
  * region (queries that fit models or checkpoint do that work at
  * construction), one warm-up, then `reps` timed reps. Prints one line
  * per query: min, median and max seconds, the share of CPU time the host
  * stole during the reps, and the [[Shape]] of the executed plan.
  *
  * Usage: `graft.tools.Probe <sfDir> <reps> <query ...|all>`, where a
  * query is any [[graft.Bench.allQueries]] entry and `all` is every one;
  * cores as in [[graft.Sessions.defaultCpus]]. */
object Probe extends AdaptiveSparkPlanHelper {

  /** Operator counts of an executed plan, subqueries included. Exchanges
    * are shuffles; a scan repeated without a ReusedExchange is a diamond
    * (the corpus is read once per reference). */
  case class Shape(scans: Int, generates: Int, exchanges: Int, reused: Int,
                   broadcasts: Int, windows: Int)

  /** Runs `df` once, without collecting it, and returns the shape of its
    * final (post-AQE) physical plan. */
  def shape(df: DataFrame): Shape = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe)(qe.executedPlan.execute().foreach(_ => ()))
    val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }
    def count[T <: SparkPlan](implicit t: ClassTag[T]) = nodes.count(t.runtimeClass.isInstance)
    Shape(count[FileSourceScanExec], count[GenerateExec], count[ShuffleExchangeExec],
      count[ReusedExchangeExec], count[BroadcastExchangeExec], count[WindowExec])
  }

  def main(args: Array[String]): Unit = {
    val (dir, reps) = (args(0), args(1).toInt)
    val queries = Bench.allQueries
    val names = if (args.drop(2).sameElements(Seq("all"))) queries.keys.toSeq.sorted
                else args.drop(2).toSeq
    val spark = Sessions.local(Sessions.defaultCpus)
    def once(name: String): Double = {
      val t0 = System.nanoTime
      queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
      (System.nanoTime - t0) / 1e9
    }
    println(f"${"query"}%-22s ${"min"}%6s ${"median"}%6s ${"max"}%6s steal%% " +
      "scans gens exch reused bcast windows")
    names.foreach { name =>
      try {
        once(name)
        val s0 = Bench.stealTicks()
        val ts = Seq.fill(reps)(once(name)).sorted
        val steal = Bench.stealPct(Bench.stealTicks() - s0, ts.sum)
        val median = (ts((reps - 1) / 2) + ts(reps / 2)) / 2
        val s = shape(queries(name)(spark, dir))
        println(f"$name%-22s ${ts.head}%6.2f $median%6.2f ${ts.last}%6.2f $steal%5.1f " +
          f"${s.scans}%5d ${s.generates}%4d ${s.exchanges}%4d ${s.reused}%6d " +
          f"${s.broadcasts}%5d ${s.windows}%7d")
      } catch {
        case e: Exception =>
          println(f"$name%-22s FAILED ${e.getClass.getSimpleName}: ${
            String.valueOf(e.getMessage).take(200)}")
      }
    }
    spark.stop()
  }
}
