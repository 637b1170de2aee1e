package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe.Shape

/** The executed (post-AQE) plan shape of key queries at sf0.001, counted by
  * [[graft.tools.Probe.shape]], so an optimization that removed an
  * exchange, window, explode or repeated scan cannot quietly come back.
  * Exchanges are shuffles, including the one that balances the small
  * documents scan; a zero-scan query reads only what it collected or
  * checkpointed while it was built. */
class PlanShapeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // query -> Shape(scans, generates, exchanges, reused, broadcasts, windows)
  private val expected = Seq(
    "features_ll" -> Shape(1, 0, 1, 0, 0, 0),
    "fv_full" -> Shape(1, 1, 1, 0, 0, 0),
    "onsets" -> Shape(1, 0, 1, 0, 0, 0),
    "rolling_median" -> Shape(1, 1, 1, 0, 0, 0),
    "rhythm_metrics" -> Shape(1, 0, 1, 0, 0, 0),
    "tempo_summary" -> Shape(1, 0, 1, 0, 0, 0),
    "pit_asof" -> Shape(2, 2, 3, 0, 0, 1),
    "skipgram_top" -> Shape(1, 1, 2, 0, 0, 0),
    "kn_bigram_nll" -> Shape(1, 0, 1, 0, 0, 0),
    "unigram_diversity" -> Shape(1, 0, 1, 0, 0, 0),
    "source_drift" -> Shape(0, 0, 0, 0, 0, 0),
    "nb_classify" -> Shape(1, 0, 1, 0, 0, 0),
    "sketch_hll" -> Shape(0, 0, 0, 0, 0, 0),
    "source_overlap" -> Shape(0, 0, 2, 1, 2, 0),
    "length_outliers" -> Shape(1, 0, 4, 3, 2, 4))

  for ((q, shape) <- expected)
    test(s"plan shape: $q") {
      assert(graft.tools.Probe.shape(Bench.allQueries(q)(spark, dir)) == shape)
    }
}
