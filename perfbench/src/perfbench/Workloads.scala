package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Framing
import graft.features.Pipeline
import graft.sink.KeyedSink
import graft.sources.Seqs

/** Counts operations and failed operations. An exception or a failed
  * check marks the operation failed; its time still counts. */
final class Tally {
  var attempted = 0L
  var failed = 0L

  /** Times `op`, then runs `check` on its result outside the timed region.
    * Returns the wall seconds of `op`, up to the exception if it threw. */
  def attempt[T](what: String)(op: => T)(check: T => Boolean): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    var t1 = 0L
    val ok =
      try {
        val r = op
        t1 = System.nanoTime()
        check(r)
      } catch {
        case e: Throwable =>
          if (t1 == 0L) t1 = System.nanoTime()
          System.err.println(s"[perfbench] $what threw: ${String.valueOf(e.getMessage).take(300)}")
          false
      }
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] $what FAILED")
    }
    (t1 - t0) / 1e9
  }
}

object Util {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median of timed operations, a failed one counting as infinitely slow:
    * a run whose operations fail never reads faster. */
  def wallMedian(reps: Seq[(Double, Boolean)]): Double =
    median(reps.map { case (t, ok) => if (ok) t else Double.PositiveInfinity })

  /** Exchange counters of span `span` and its children, keyed `exchange.<key>.*`. */
  def exchange(tr: Tracer, key: String, span: Int): Map[String, Double] = {
    val c = tr.total(span)
    Map(s"exchange.$key.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      s"exchange.$key.shuffle_records" -> c.shuffleRecords.toDouble,
      s"exchange.$key.spill_bytes" -> c.spillBytes.toDouble,
      s"exchange.$key.stages" -> c.stages.toDouble)
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally all.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    rmrf(to)
    val all = Files.walk(from)
    try all.forEach(f => Files.copy(f, to.resolve(from.relativize(f))))
    finally all.close()
  }

  /** Order-independent digest of `cols`: row count and the exact sum of
    * per-row 64-bit hashes. */
  def digestCols(cols: Seq[String]): Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("rows"),
    coalesce(sum(xxhash64(cols.sorted.map(col): _*).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("hash"))

  def digest(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.agg(digestCols(cols).head, digestCols(cols).tail: _*).head()
    (r.getLong(0), r.getDecimal(1))
  }
}

import Util._

/** One workload: a set-up that generates its inputs and base state, one
  * timed operation, and a traced ladder of the same calls. */
abstract class Workload(val spark: SparkSession, val seed: Long, val tally: Tally) {
  /** Generates the inputs under `dir` and builds the base state. */
  def setup(dir: Path): Unit
  /** Untimed, checked operations after the last set-up: the JIT needs
    * about three operations to settle. */
  def warmUp(): Unit = (1 to 3).foreach(_ => rep())
  /** One timed, checked operation; its wall seconds. */
  def rep(): Double
  /** `wall_s` of the timed operations `reps` (seconds, passed). */
  def wall(reps: Seq[(Double, Boolean)]): Double = wallMedian(reps)
  /** One pass of the ladder under `tr`; returns its per-layer metrics and
    * the sum of the rungs' self times. */
  def ladder(tr: Tracer): (Map[String, Double], Double)
}

object Workload {
  val Names = Seq("app", "queries")

  def apply(name: String, spark: SparkSession, seed: Long, tally: Tally): Workload = name match {
    case "app" => new AppW(spark, seed, tally)
    case "queries" => new QueryW(spark, seed, tally)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** `App`'s life cycle on one materialized token table: the full run
  * (`Pipeline.featuresLl` → `KeyedSink.upsert` into an empty sink), the
  * `--incremental` re-run with the input unchanged (nothing pending, so the
  * upsert is skipped), and the `--incremental` re-run after 1 % of the docs
  * changed (`pending` → `featuresLl` → copy-on-write `upsert`). */
class AppW(spark: SparkSession, seed: Long, tally: Tally)
    extends Workload(spark, seed, tally) {
  import AppW._

  private var dir: Path = _
  private def sink = dir.resolve("sink")
  private def tokens: DataFrame = spark.read.parquet(dir.resolve("tokens").toString)
  private def changed: DataFrame = spark.read.parquet(dir.resolve("changed").toString)
  private var inputDigest: (Long, java.math.BigDecimal) = _
  private var expected: (Long, java.math.BigDecimal) = _

  /** Documents → token table → the same table with the seed's 1 % changed,
    * each in `TokenFiles` parquet files. */
  def setup(d: Path): Unit = {
    dir = Files.createDirectories(d)
    val docs = d.resolve("in").toString
    Gen.documents(spark, Docs, seed).write.parquet(s"$docs/documents.parquet")
    Seqs.fromDocuments(spark, docs).repartition(TokenFiles, col("doc_id"))
      .write.parquet(d.resolve("tokens").toString)
    Gen.changeTokens(tokens, Docs, Changed, seed).repartition(TokenFiles, col("doc_id"))
      .write.parquet(d.resolve("changed").toString)
  }

  override def warmUp(): Unit = {
    inputDigest = digest(tokens, Seq("doc_id", "tokens"))
    // the from-scratch feature table of the changed input
    expected = allCols(Pipeline.featuresLl(changed))
    super.warmUp()
  }

  /** `App`'s full run: featuresLl over `src` upserted into `sink`. */
  def build(sink: Path, src: DataFrame): graft.sink.CommitStats =
    KeyedSink.upsert(spark, sink.toString, Pipeline.featuresLl(src), "doc_id")

  /** `App --incremental`: pending, count, and upsert only when non-empty. */
  def rerun(sink: Path, src: DataFrame): Long = {
    val todo = KeyedSink.pending(spark, sink.toString, src, "doc_id", "n_tok")
    val n = todo.count()
    if (n > 0) build(sink, todo)
    n
  }

  private def table(sink: Path): DataFrame = KeyedSink.read(spark, sink.toString).get

  private def allCols(df: DataFrame) = digest(df, df.columns.toSeq)

  /** Row count = docs in, every status succeeded, and the committed
    * (doc_id, tokens) digest equals the input's. */
  private def built(): Boolean = {
    val cs = digestCols(Seq("doc_id", "tokens"))
    val r = table(sink).agg(cs(0), cs(1), sum(when(col("status") === "succeeded", 0L).otherwise(1L)))
      .head()
    (r.getLong(0), r.getDecimal(1)) == inputDigest && r.getLong(2) == 0L && inputDigest._1 == Docs
  }

  /** The three runs, each timed and checked on its own; their sum. */
  def rep(): Double = {
    rmrf(sink)
    val steps = Seq(
      tally.attempt("full run")(build(sink, tokens))(_ => built()),
      tally.attempt("no-op re-run")(rerun(sink, tokens))(_ == 0L),
      tally.attempt("1% re-run")(rerun(sink, changed)) { n =>
        n == Changed && allCols(table(sink)) == expected
      })
    System.err.println("[perfbench] steps: " + steps.map(t => f"$t%.3f").mkString(" "))
    steps.sum
  }

  /** The `graft_features_ll` kernel projection alone, as featuresLl calls it. */
  private def kernel(src: DataFrame): DataFrame = {
    graft.functions.expressions.register(spark)
    val thr = Pipeline.EffectiveLengthThresholds.mkString(", ")
    src.select(col("doc_id"), expr(
      s"graft_features_ll(tokens, ${Seqs.FrameSize}, ${Seqs.Hop}, " +
        s"${Seqs.SilenceThreshold}, CAST(${Pipeline.EnvCoef} AS DOUBLE), array($thr))").as("ll"))
  }

  /** Full run: scan, + kernel, + featuresLl, + upsert. No-op re-run. 1 %
    * re-run, each rung from a fresh copy of the built table: pending,
    * + featuresLl, + upsert. */
  def ladder(tr: Tracer): (Map[String, Double], Double) = {
    rmrf(sink)
    val base = dir.resolve("base")
    val (_, scan) = tr.measure("sources.scan")(noop(tokens))
    val (_, kern) = tr.measure("functions.features_ll")(noop(kernel(tokens)))
    val (_, feat) = tr.measure("features.featuresLl")(noop(Pipeline.featuresLl(tokens)))
    val (_, up) = tr.measure("sink.upsert")(build(sink, tokens))
    val (_, idle) = tr.measure("sink.noop_rerun")(rerun(sink, tokens))
    copyTree(sink, base)
    def fresh[T](name: String)(body: => T): (T, Span) = {
      copyTree(base, sink)
      tr.measure(name)(body)
    }
    def todo = KeyedSink.pending(spark, sink.toString, changed, "doc_id", "n_tok")
    val (n, pend) = fresh("sink.pending")(todo.count())
    val (_, rf) = fresh("refresh.featuresLl") { todo.count(); noop(Pipeline.featuresLl(todo)) }
    val (_, rup) = fresh("refresh.upsert")(rerun(sink, changed))
    val (w, rw) = (tr.total(up.id), tr.total(rup.id))
    (Map(
      "sources.scan_s" -> scan.seconds,
      "sources.bytes_read" -> tr.total(scan.id).scanBytes.toDouble,
      "sources.rows_read" -> tr.total(scan.id).rowsRead.toDouble,
      "functions.features_ll_s" -> (kern.seconds - scan.seconds),
      "features.assembly_s" -> (feat.seconds - kern.seconds),
      "sink.upsert_s" -> (up.seconds - feat.seconds),
      "sink.bytes_written" -> w.bytesWritten.toDouble,
      "sink.files_written" -> w.filesWritten.toDouble,
      "sink.rows_written" -> w.rowsWritten.toDouble,
      "sink.noop_rerun_s" -> idle.seconds,
      "sink.read_bytes" -> tr.total(idle.id).scanBytes.toDouble,
      "sink.pending_s" -> pend.seconds,
      "sink.pending_rows" -> n.toDouble,
      "features.refresh_s" -> (rf.seconds - pend.seconds),
      "sink.refresh_upsert_s" -> (rup.seconds - rf.seconds),
      "sink.refresh_rows_written" -> rw.rowsWritten.toDouble,
      "sink.write_amp" -> rw.rowsWritten.toDouble / n) ++
      exchange(tr, "pending", pend.id) ++ exchange(tr, "upsert", rup.id),
      up.seconds + idle.seconds + rup.seconds)
  }
}

object AppW {
  /** 1 000 docs, 4.7 M tokens: 1/5 of the sf0.1 document set. */
  val Docs = 1000L
  val TokenFiles = 4
  /** Docs the 1 % re-run changes. */
  val Changed = Docs / 100
}

/** Named `SparkEntry.queries` leaves run back to back, each timed from
  * building its DataFrame through the end of its noop write. Each result
  * must meet its row-count and key contract, and every timed result must
  * equal the warm-up's. */
final class QueryW(spark: SparkSession, seed: Long, tally: Tally)
    extends Workload(spark, seed, tally) {
  import QueryW._

  private val leaves = Curate ++ Frames
  private var dir: Path = _
  private def in(l: Leaf): String = dir.resolve(l.layer).toString
  private val reference = mutable.Map.empty[String, (Long, java.math.BigDecimal)]
  private val leafTimes = mutable.ArrayBuffer.empty[Seq[(Double, Boolean)]]
  private val queries = graft.SparkEntry.queries

  private def construct(l: Leaf): DataFrame = queries(l.name)(spark, in(l))

  /** One pass over `df`: its row count, the most rows sharing one key,
    * and its all-column digest. */
  private def contract(df: DataFrame, keys: Seq[String]): (Long, Long, java.math.BigDecimal) = {
    val cs = digestCols(df.columns.toSeq)
    val r = df.groupBy(keys.map(col): _*).agg(cs(0).as("n"), cs(1).as("h"))
      .agg(sum("n"), max("n"), sum("h")).head()
    (r.getLong(0), r.getLong(1), r.getDecimal(2))
  }

  /** Noop-writes `df` and returns the digest observed on the way. */
  private def exec(df: DataFrame): (Long, java.math.BigDecimal) = {
    val obs = Observation()
    val cs = digestCols(df.columns.toSeq)
    noop(df.observe(obs, cs.head, cs.tail: _*))
    val r = obs.get
    (r("rows").asInstanceOf[Long], r("hash").asInstanceOf[java.math.BigDecimal])
  }

  def setup(d: Path): Unit = {
    dir = Files.createDirectories(d)
    for ((layer, docs) <- Docs)
      Gen.documents(spark, docs, seed).write.parquet(d.resolve(layer).resolve("documents.parquet").toString)
  }

  /** Runs every leaf once, checks its row count and key contract, and keeps
    * its digest as the reference for the timed reps. */
  override def warmUp(): Unit = {
    val expectRows = leaves.map(l => l.name -> l.rows(spark, in(l), Docs(l.layer))).toMap
    reference.clear()
    for (l <- leaves) tally.attempt(s"${l.name} warm-up")(contract(construct(l), l.keys)) {
      case (rows, maxPerKey, hash) =>
        reference(l.name) = (rows, hash)
        val ok = maxPerKey == 1 && rows == expectRows(l.name)
        if (!ok) System.err.println(
          s"[perfbench] ${l.name}: rows $rows (want ${expectRows(l.name)}), max rows per key $maxPerKey")
        ok
    }
  }

  def rep(): Double = {
    val times = leaves.map { l =>
      val failed = tally.failed
      (tally.attempt(l.name)(exec(construct(l)))(_ == reference(l.name)), tally.failed == failed)
    }
    System.err.println("[perfbench] leaves: " +
      leaves.zip(times).map { case (l, (t, _)) => f"${l.name} $t%.3f" }.mkString(", "))
    leafTimes += times
    times.map(_._1).sum
  }

  /** The sum over leaves of each leaf's median: one slow execution of one
    * leaf does not move it. */
  override def wall(reps: Seq[(Double, Boolean)]): Double =
    leafTimes.takeRight(reps.size).toSeq.transpose.map(ts => wallMedian(ts.toSeq)).sum

  def ladder(tr: Tracer): (Map[String, Double], Double) = {
    val tokengen = Docs.keys.toSeq.map { layer =>
      tr.measure("sources.tokengen")(noop(Seqs.fromDocuments(spark, dir.resolve(layer).toString)))._2
    }
    val m = mutable.Map("sources.tokengen_s" -> tokengen.map(_.seconds).sum)
    var total = 0.0
    for (l <- leaves) {
      val (cons, leaf) = tr.measure(l.name) {
        val (df, c) = tr.measure("construct")(construct(l))
        tr.measure("exec")(exec(df))
        c
      }
      total += leaf.seconds
      m ++= exchange(tr, l.name, leaf.id)
      if (l.layer == "ops") {
        m(s"ops.${l.name}.wall_s") = leaf.seconds
        m(s"ops.${l.name}.construct_s") = cons.seconds
        m(s"ops.${l.name}.exec_s") = leaf.seconds - cons.seconds
        m(s"driver.${l.name}.result_bytes") = tr.total(leaf.id).resultBytes.toDouble
      } else m(s"queries.${l.name}.wall_s") = leaf.seconds
    }
    val (_, frames) = tr.measure("core.frame_rows") {
      val s = Seqs.fromDocuments(spark, in(Frames.head))
      noop(Framing.frameRows(s))
      noop(Framing.frameRows(s, Seqs.RFrameSize, Seqs.RHop))
    }
    m("core.frame_rows_s") = frames.seconds
    (m.toMap, total)
  }
}

object QueryW {
  /** A query leaf: its name in `SparkEntry.queries`, its key columns, and
    * its contracted row count for a document set. */
  final case class Leaf(name: String, layer: String, keys: Seq[String],
                        rows: (SparkSession, String, Long) => Long)

  private val perDoc = (_: SparkSession, _: String, n: Long) => n

  val Curate = Seq(
    Leaf("skipgram_top", "ops", Seq("t1", "t2", "dist"), (_, _, _) => 100L),
    Leaf("kn_bigram_nll", "ops", Seq("doc_id"), perDoc),
    Leaf("unigram_diversity", "ops", Seq("doc_id"), perDoc),
    Leaf("source_drift", "ops", Seq("source"), (_, _, _) => Gen.Sources.toLong),
    Leaf("nb_classify", "ops", Seq("doc_id"), perDoc))

  val Frames = Seq(
    Leaf("onsets", "queries", Seq("doc_id"), perDoc),
    Leaf("rolling_median", "queries", Seq("doc_id", "frame_id"),
      (s, in, _) => Framing.frameRows(Seqs.fromDocuments(s, in)).count()),
    Leaf("rhythm_metrics", "queries", Seq("doc_id"), perDoc),
    Leaf("tempo_summary", "queries", Seq("doc_id"), perDoc),
    Leaf("pit_asof", "queries", Seq("doc_id", "t"), (_, _, n) => 6 * n))

  /** Document-set size per leaf group. */
  val Docs = Map(
    "ops" -> 200L,
    "queries" -> 1000L)
}
