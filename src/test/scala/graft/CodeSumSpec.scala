package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.expressions.{CodeCounts, codeSum}

/** `graft_code_sum` against the `explode → groupBy → sum` it replaces,
  * and the plan shape of the count-family leaves built on it. */
class CodeSumSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** One input row: a group key and a packed array (None = a null row). */
  private type In = (String, Option[Seq[Long]])

  /** Rows over few groups and a small code set (so codes repeat across
    * rows and partitions); codes reach the top of the `countBits` layout,
    * so the 40-bit bigram form sets the sign bit. */
  private def genRows(countBits: Int): Gen[List[In]] = {
    val codeMax = (1L << (64 - countBits)) - 1
    val code = Gen.frequency(3 -> Gen.choose(0L, 15L),
      1 -> Gen.choose(codeMax - 3, codeMax))
    val packed = for (c <- code; n <- Gen.choose(0L, 9000L)) yield (c << countBits) | n
    val row = for {
      g <- Gen.oneOf("a", "b", "c")
      arr <- Gen.frequency(1 -> Gen.const(None),
        6 -> Gen.listOf(packed).map(xs => Some(xs.take(30))))
    } yield (g, arr)
    Gen.listOf(row).map(_.take(40))
  }

  private def frame(rows: List[In], parts: Int): DataFrame =
    rows.map { case (g, a) => (g, a.orNull) }.toDF("g", "packed").repartition(parts)

  /** (group, code → count) of the explode form, sums as BIGINT. */
  private def exploded(df: DataFrame, bits: Int): Map[String, Map[Long, Long]] =
    df.select(col("g"), explode(col("packed")).as("v"))
      .groupBy(col("g"), shiftrightunsigned(col("v"), bits).as("code"))
      .agg(sum(col("v").bitwiseAND(lit((1L << bits) - 1))).as("c"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(x => x._2 -> x._3).toMap }

  private def check(prop: Prop): Unit = {
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(15).withInitialSeed(20261017L), prop)
    assert(res.passed, res.status.toString)
  }

  for (bits <- Seq(40, 32)) {
    test(s"code_sum($bits bits) == explode → groupBy → sum, grouped and global, 1 and 5 partitions") {
      check(Prop.forAll(genRows(bits)) { rows => Seq(1, 5).forall { parts =>
        val df = frame(rows, parts)
        val want = exploded(df, bits)
        val grouped = df.groupBy(col("g")).agg(codeSum(col("packed"), bits).as("cs"))
          .select(col("g"), col("cs.code"), col("cs.count"))
          .as[(String, Array[Long], Array[Long])].collect()
        val globalRow = df.agg(codeSum(col("packed"), bits).as("cs"))
          .select(col("cs.code"), col("cs.count"))
          .as[(Array[Long], Array[Long])].collect()
        val wantAll = want.values.flatten.groupMapReduce(_._1)(_._2)(_ + _)
        def ascending(cs: Array[Long]) = cs.toSeq == cs.distinct.sorted.toSeq
        // codes strictly ascending; a group with no elements yields empty arrays
        grouped.forall { case (_, cs, _) => ascending(cs) } &&
        grouped.map(_._1).toSet == rows.map(_._1).toSet &&
        grouped.forall { case (g, cs, ns) => cs.zip(ns).toMap == want.getOrElse(g, Map.empty) } &&
        globalRow.length == 1 &&
        globalRow.head._1.zip(globalRow.head._2).toMap == wantAll &&
        ascending(globalRow.head._1)
      }})
    }
  }

  test("code_sum over an empty input: one row of empty arrays") {
    val r = Seq.empty[(String, Seq[Long])].toDF("g", "packed")
      .agg(codeSum(col("packed")).as("cs")).select(col("cs.code"), col("cs.count"))
      .as[(Array[Long], Array[Long])].collect()
    assert(r.length == 1 && r.head._1.isEmpty && r.head._2.isEmpty)
  }

  test("code counts: growth, merge and serialization round-trip") {
    val rnd = new scala.util.Random(7)
    val want = mutable.Map.empty[Long, Long]
    val parts = Seq.fill(4) {
      val b = new CodeCounts()
      for (_ <- 1 to 3000) {
        val c = rnd.nextInt(5000).toLong; val n = rnd.nextInt(100).toLong
        b.add(c, n); want(c) = want.getOrElse(c, 0L) + n
      }
      CodeCounts.deserialize(b.serialize)
    }
    val all = parts.reduce { (a, b) => a.addAll(b); a }
    // a merged (run-form) buffer still takes row updates
    for (c <- Seq(3L, 6001L, 6001L)) { all.add(c, 5L); want(c) = want.getOrElse(c, 0L) + 5L }
    val (codes, counts) = all.sorted
    assert(codes.toSeq == want.keys.toSeq.sorted)
    assert(codes.zip(counts).toMap == want.toMap)
    assert(all.size == want.size)
  }

  test("microNat == Spark's round(double) (BigDecimal.valueOf HALF_UP), ties and ulp neighbours included") {
    def spark(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val rnd = new scala.util.Random(11)
    val xs = Seq.fill(20000)(StrictMath.log(rnd.nextDouble() * 1e4 + 1e-9) * 1000000) ++
      Seq.fill(20000)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(15))) ++
      (-2000 to 2000).flatMap { k =>
        val t = k + 0.5
        Seq(t, math.nextUp(t), math.nextDown(t), k.toDouble, math.nextDown(k.toDouble))
      } ++ Seq(0.0, -0.0, 4.5e15 + 0.5, -4.5e15 - 0.5, 1e17, -1e17)
    for (x <- xs) assert(graft.functions.expressions.microNat(x) == spark(x), s"x=$x")
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Executed plans of every action `body` runs. */
  private def plansOf(body: => Unit): Seq[SparkPlan] = {
    val seen = mutable.ArrayBuffer.empty[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = seen.synchronized(seen += qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    seen.synchronized(seen.toList)
  }

  /** 120 docs of synthesized tokens over 5 sources, in 4 partitions —
    * the `Seqs.fromDocuments` shape without a parquet scan. */
  private lazy val seqs = {
    graft.functions.expressions.register(spark)
    spark.range(120).select(
        concat(lit("d"), col("id").cast("string")).as("doc_id"),
        expr("graft_gen_tokens(id, CAST(300 + id * 7 AS INT))").as("tokens"),
        concat(lit("s"), (col("id") % 5).cast("string")).as("source"))
      .repartition(4)
  }

  // the ops behind the queries of the same names
  for ((q, leaf) <- Seq[(String, DataFrame => DataFrame)](
      "kn_bigram_nll" -> graft.ops.LanguageModel.scoreBigramKn,
      "unigram_diversity" -> graft.ops.LanguageModel.unigramDiversity,
      "source_drift" -> graft.ops.LanguageModel.sourceDrift,
      "nb_classify" -> graft.ops.NaiveBayes.trainAndClassify))
    test(s"plan shape: $q runs no Generate and one Exchange per aggregate") {
      val plans = plansOf(leaf(seqs).collect())
      assert(plans.size >= 2, s"$q: expected the counting and the result actions")
      for (p <- plans) {
        assert(Plans.collect(p) { case g: GenerateExec => g }.isEmpty, s"$q: Generate in\n$p")
        val shuffles = Plans.collect(p) {
          case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS => e
        }
        val aggs = Plans.collect(p) { case a: BaseAggregateExec => a }
        // each aggregate exchange sits between that aggregate's partial and final
        assert(shuffles.forall(e => (e.child match {
          case w: WholeStageCodegenExec => w.child
          case c => c
        }).isInstanceOf[BaseAggregateExec]), s"$q:\n$p")
        assert(2 * shuffles.size <= aggs.size, s"$q:\n$p")
      }
      assert(plans.exists(p => Plans.collect(p) { case a: BaseAggregateExec => a }.nonEmpty),
        s"$q: no aggregate ran")
    }
}
