package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.core.Framing
import graft.sources.Seqs

/** Frame contract tests: counts, short-doc single frame, exact integer
  * sums, audibility flag (frame loop semantics, SampleAnalyser.cpp:814). */
class FramingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def frames(tokens: Seq[Int], f: Int = 2048, h: Int = 1024): Seq[Row] = {
    val df = Seq(("d1", tokens, tokens.length, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    Framing.frameRows(df, f, h).orderBy("frame_id").collect().toSeq
  }

  test("full frames only: n=2048 -> 1 frame; n=3071 -> 1; n=3072 -> 2") {
    assert(frames(Seq.fill(2048)(1)).length == 1)
    assert(frames(Seq.fill(3071)(1)).length == 1)
    assert(frames(Seq.fill(3072)(1)).length == 2)
  }

  test("short doc -> one short frame covering all tokens") {
    val fr = frames(Seq(3, -4, 5))
    assert(fr.length == 1)
    val r = fr.head
    assert(r.getAs[Int]("n_samp") == 3)
    assert(r.getAs[Long]("fsum") == 4L)
    assert(r.getAs[Long]("fsumsq") == 9L + 16L + 25L)
    assert(r.getAs[Int]("peak") == 5)
    assert(r.getAs[Double]("rms") == math.sqrt(50.0 / 3))
  }

  test("overlap: token at pos 1024 belongs to frames 0 and 1") {
    val toks = Seq.tabulate(3072)(i => if (i == 1024) 100 else 0)
    val fr = frames(toks)
    assert(fr.length == 2)
    assert(fr(0).getAs[Long]("fsum") == 100L)
    assert(fr(1).getAs[Long]("fsum") == 100L)
  }

  test("audibility threshold is strict >") {
    val quiet = frames(Seq.fill(2048)(Seqs.SilenceThreshold))
    assert(!quiet.head.getAs[Boolean]("is_audible"))
    val loud = frames(Seq.fill(2048)(Seqs.SilenceThreshold + 1))
    assert(loud.head.getAs[Boolean]("is_audible"))
  }

  test("rhythm clock (512/128): n=1024 -> (1024-512)/128+1 = 5 frames") {
    assert(frames(Seq.fill(1024)(1), 512, 128).length == 5)
  }

  test("frame-series queries: a doc without tokens has no frames and no row") {
    // token generation returns null for a null doc_id
    val dir = java.nio.file.Files.createTempDirectory("graft-frames").toString
    Seq((Some(1L), 500, "sA"), (None, 500, "sA")).toDF("doc_id", "n_chars", "source")
      .write.parquet(s"$dir/documents.parquet")
    for (q <- Seq("onsets", "rhythm_metrics", "tempo_summary", "rolling_median")) {
      val ids = Bench.allQueries(q)(spark, dir).collect().map(_.getAs[String]("doc_id"))
      assert(ids.toSet == Set("d000001"), q)
      if (q == "rolling_median")
        assert(ids.length == Framing.frameRows(Seqs.fromDocuments(spark, dir)).count())
    }
  }
}
