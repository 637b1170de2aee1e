package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.features.Pipeline
import graft.sink.KeyedSink
import graft.sources.Seqs

import Util._

/** The benchmark's own checks: the seeded generator, the changed set, and
  * that a wrong output or an exception is counted as a failure whose time
  * still counts. Prints one line per check and `LAYERS <names>` for the
  * launcher to compare with BENCHMARK.json; exits 1 if a check fails.
  *
  * Usage: perfbench.SelfTest --work DIR */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $what${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  private def docsDir(spark: SparkSession, work: Path, n: Long, seed: Long): String = {
    val d = work.resolve(s"docs-$n-$seed").toString
    Gen.documents(spark, n, seed).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(args.indexOf("--work") + 1)).toAbsolutePath
    Files.createDirectories(work)
    val spark = Main.session(work)

    // doc ids stay distinct after Seqs' six-digit formatting, at x20 scale
    for (seed <- Seq(0L, 1L)) {
      val n = 100000L
      val ids = Seqs.fromDocuments(spark, docsDir(spark, work, n, seed)).select("doc_id")
      val distinct = ids.distinct().count()
      expect(s"seed $seed: $n distinct doc ids", distinct == n, s"$distinct distinct")
    }

    // every seed has the same token total and length distribution
    val n = AppW.Docs
    val totals = Seq(0L, 1L).map { seed =>
      Seqs.fromDocuments(spark, docsDir(spark, work, n, seed))
        .agg(sum("n_tok"), sum(size(col("tokens"))), sort_array(collect_list("n_tok")))
        .head()
    }
    expect("equal token totals across seeds",
      totals(0).getLong(0) == totals(1).getLong(0) && totals(0).getLong(1) == totals(1).getLong(1),
      s"${totals(0)} vs ${totals(1)}")
    expect("equal length distributions across seeds", totals(0).getSeq[Int](2) == totals(1).getSeq[Int](2))
    expect("n_tok matches the token arrays", totals(0).getLong(0) == totals(0).getLong(1))

    // the changed set has exactly the requested size
    for (seed <- Seq(0L, 1L)) {
      val base = Seqs.fromDocuments(spark, work.resolve(s"docs-$n-$seed").toString)
      val chg = Gen.changeTokens(base, n, AppW.Changed, seed)
      val diff = base.as("a").join(chg.as("b"), "doc_id")
        .filter(col("a.n_tok") =!= col("b.n_tok") || col("a.tokens") =!= col("b.tokens"))
      val bad = chg.filter(col("n_tok") =!= size(col("tokens")) || col("n_tok") <= 0).count()
      expect(s"seed $seed: exactly ${AppW.Changed} docs changed", diff.count() == AppW.Changed,
        s"${diff.count()} changed")
      expect(s"seed $seed: changed docs keep n_tok = size(tokens)", bad == 0, s"$bad bad rows")
    }

    // an exception is a failure and its time still counts
    val t = new Tally
    val secs = t.attempt("throws")({ Thread.sleep(300); throw new RuntimeException("boom") })(_ => true)
    expect("an exception counts as failed", t.failed == 1 && t.attempted == 1)
    expect("an exception keeps its time", secs >= 0.3, s"$secs s")

    // a failed operation never makes the median faster
    val reps = Seq((1.0, true), (1.2, true), (0.1, false))
    expect("a fast failed operation does not lower the median", wallMedian(reps) == 1.2,
      s"${wallMedian(reps)}")
    expect("a mostly failing run reads infinitely slow",
      wallMedian(Seq((1.0, true), (0.1, false), (0.1, false))).isInfinite)

    // a full run that commits a wrong table is reported as failed
    def corrupted(name: String, corrupt: DataFrame => DataFrame): Unit = {
      val tally = new Tally
      val w = new AppW(spark, 7L, tally) {
        override def build(sink: Path, src: DataFrame): graft.sink.CommitStats =
          KeyedSink.upsert(spark, sink.toString, corrupt(Pipeline.featuresLl(src)), "doc_id")
      }
      w.setup(work.resolve(s"corrupt-$name"))
      w.warmUp()
      val failed = tally.failed
      val s = w.rep()
      expect(s"corrupted full run ($name) is counted failed", tally.failed > failed && failed >= 3,
        s"${tally.failed}/${tally.attempted}")
      expect(s"corrupted full run ($name) keeps its time", s > 0.0)
      rmrf(work.resolve(s"corrupt-$name"))
    }
    corrupted("dropped rows", _.limit(10))
    corrupted("changed tokens", _.withColumn("tokens", expr("slice(tokens, 2, size(tokens))")))
    corrupted("failed status", _.withColumn("status", lit("error: injected")))

    // the same life cycle, uncorrupted, passes
    val ok = new Tally
    val good = new AppW(spark, 7L, ok)
    good.setup(work.resolve("good"))
    good.warmUp()
    good.rep()
    expect("uncorrupted life cycle passes", ok.failed == 0 && ok.attempted == 12,
      s"${ok.failed}/${ok.attempted}")

    println("LAYERS " + (Layers.all.map(_._1) ++ Seq("host.steal_pct", "host.load1"))
      .map(n => "\"" + n + "\"").mkString("[", ", ", "]"))
    spark.stop()
    rmrf(work)
    sys.exit(if (failures == 0) 0 else 1)
  }
}
