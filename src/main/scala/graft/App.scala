package graft

import graft.features.{FeaturesHl, Pipeline}
import graft.sink.KeyedSink
import graft.sources.Seqs

/** Production driver CLI — the spark-submit entry mirroring AFEC's Crawler
  * (`Crawler.cpp:136-498`): scan source → incremental change-list →
  * per-entity feature pipeline → idempotent keyed sink with snapshot
  * metrics.
  *
  * Usage:
  *   graft.App --input <testdataDir> --out <sinkDir>
  *             [--level low|high] [--incremental] [--cpus N]
  *
  * On a cluster the same flow is `spark-submit --class graft.App` with the
  * Iceberg catalog configured; `local[N]` here is the sandbox stand-in.
  * The incremental mode is the Crawler's modtime-diff optimizer
  * (`Crawler.cpp:934-998`): only new/changed entities are recomputed, and
  * the run is resumable — a killed job re-runs with the same command and
  * converges (idempotent MERGE per KeyedSink).
  */
object App {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap ++ args.filter(_ == "--incremental").map(_ => "incremental" -> "true").toMap

    val input = opts.getOrElse("input", "/root/testdata/sf0.001")
    val out = opts.getOrElse("out", "target/graft_sink")
    val level = opts.getOrElse("level", "low")
    val cpus = opts.get("cpus").map(_.toInt).getOrElse(Sessions.defaultCpus)
    val incremental = opts.contains("incremental")

    val spark = Sessions.local(cpus)

    val seqs = Seqs.fromDocuments(spark, input)
    // change-list: skip up-to-date entities (version = n_tok here; a real
    // deployment uses the source's modtime/snapshot-id column)
    val todo =
      if (incremental) KeyedSink.pending(spark, out, seqs, "doc_id", "n_tok")
      else seqs
    val nTodo = todo.count()
    if (nTodo == 0) {
      println(s"""{"event":"up-to-date","sink":"$out"}""")
    } else {
      val ll = Pipeline.featuresLl(todo)
      // HL derives from LL (second projection, SampleDescriptors.cpp:206-237);
      // n_tok doubles as the version column for the change-list
      val features = if (level == "high") FeaturesHl.featuresHl(ll) else ll
      val stats = KeyedSink.upsert(spark, out, features, "doc_id")
      println(s"""{"event":"committed","snapshot":${stats.snapshot},""" +
        s""""rows":${stats.totalRows},"upserted":${stats.upsertedRows},""" +
        s""""level":"$level","incremental":$incremental}""")
    }
    spark.stop()
  }
}
