package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span, summed over the tasks of its Spark jobs. */
final class Counters {
  var stages = 0L
  var scanBytes = 0L
  var rowsRead = 0L
  var bytesWritten = 0L
  var rowsWritten = 0L
  var filesWritten = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var peakExecMem = 0L
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory tracer: spans around the benchmark's calls into graft, each
  * in its own Spark job group, with counters from a `SparkListener` and a
  * `QueryExecutionListener`. Nothing is written until [[json]] is called
  * at the end of the run. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[Int, Counters]
  private var stack = List.empty[Int]
  @volatile private var current = -1
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def of(span: Int): Counters = synchronized(counters.getOrElseUpdate(span, new Counters))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = g.filter(_.startsWith("span-")).map(_.drop(5).toInt).getOrElse(current)
      Tracer.this.synchronized(e.stageIds.foreach(s => stageSpan(s) = span))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val span = Tracer.this.synchronized(stageSpan.getOrElse(e.stageInfo.stageId, current))
      if (span >= 0 && e.stageInfo.numTasks > 0) of(span).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val span = Tracer.this.synchronized(stageSpan.getOrElse(e.stageId, current))
      if (span < 0) return
      val c = of(span)
      c.synchronized {
        c.rowsRead += m.inputMetrics.recordsRead
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.rowsWritten += m.outputMetrics.recordsWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.resultBytes += m.resultSize
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  /** Files written by write commands (the nodes that count output bytes)
    * and the size of the files that scans select, from the SQL metrics of
    * the executed plan, adaptive stages included. */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val span = current
      if (span < 0) return
      val c = of(span)
      Tracer.Plans.foreach(qe.executedPlan) { node =>
        val m = node.metrics
        if (m.contains("numOutputBytes")) m.get("numFiles").foreach(x => c.filesWritten += x.value)
        m.get("filesSize").foreach(x => c.scanBytes += x.value)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }


  /** Run `body` as a span named `name`, nested under the open span. */
  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, parent, System.nanoTime(), 0L)
    stack = id :: stack
    current = id
    sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      org.apache.spark.perfbench.Bus.drain(sc)
      spans(id) = spans(id).copy(startNs = t0, endNs = t1)
      stack = stack.tail
      current = stack.headOption.getOrElse(-1)
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-$p", spans(p).name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** [[span]], also returning the finished span. */
  def measure[T](name: String)(body: => T): (T, Span) = {
    val id = spans.size
    val r = span(name)(body)
    (r, spans(id))
  }

  /** Counters of span `id` plus all spans nested in it. */
  def total(id: Int): Counters = {
    def tree(i: Int): Seq[Int] = i +: spans.toSeq.filter(_.parent == i).flatMap(s => tree(s.id))
    val t = new Counters
    tree(id).flatMap(counters.get).foreach { c =>
      t.stages += c.stages; t.scanBytes += c.scanBytes; t.rowsRead += c.rowsRead
      t.bytesWritten += c.bytesWritten; t.rowsWritten += c.rowsWritten
      t.filesWritten += c.filesWritten; t.shuffleWriteBytes += c.shuffleWriteBytes
      t.shuffleRecords += c.shuffleRecords; t.spillBytes += c.spillBytes
      t.resultBytes += c.resultBytes; t.peakExecMem = math.max(t.peakExecMem, c.peakExecMem)
    }
    t
  }

  def peakExecMem: Long = synchronized(counters.values.map(_.peakExecMem).maxOption.getOrElse(0L))

  /** Runs `body` with the listeners attached. */
  def on[T](body: => T): T = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try body
    finally {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  def json: String = {
    val ss = spans.map { s =>
      val c = counters.getOrElse(s.id, new Counters)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"stages":${c.stages},""" +
        s""""scan_bytes":${c.scanBytes},"rows_read":${c.rowsRead},""" +
        s""""bytes_written":${c.bytesWritten},"rows_written":${c.rowsWritten},""" +
        s""""files_written":${c.filesWritten},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""shuffle_records":${c.shuffleRecords},"spill_bytes":${c.spillBytes},""" +
        s""""result_bytes":${c.resultBytes},"peak_exec_mem_bytes":${c.peakExecMem}}"""
    }
    ss.mkString("[\n", ",\n", "\n]")
  }
}

object Tracer {
  object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
}
