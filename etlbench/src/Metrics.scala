package etlbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Executor-side totals of one measured window. */
final case class Counters(
    stages: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    outputBytes: Long = 0, outputRecords: Long = 0,
    peakExecMem: Long = 0) {
  def cpuS: Double = cpuNs / 1e9
  def shuffleMb: Double = (shuffleReadBytes + shuffleWriteBytes) / 1048576.0
  def spillMb: Double = spillBytes / 1048576.0
  def -(o: Counters): Counters = Counters(stages - o.stages, tasks - o.tasks,
    cpuNs - o.cpuNs, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    outputBytes - o.outputBytes,
    outputRecords - o.outputRecords, math.max(peakExecMem, o.peakExecMem))
}

/** Sums completed-stage task metrics and tracks the largest task peak
  * execution memory between resets. Events arrive asynchronously, so
  * `snapshot` drains the listener bus first; call it outside timed windows.
  */
final class StageListener(sc: SparkContext) extends SparkListener {
  private val names = Seq("stages", "tasks", "cpu", "shr", "shw", "spill", "out", "rec")
  private val sums = names.map(_ -> new AtomicLong).toMap
  private val peak = new AtomicLong
  sc.addSparkListener(this)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val tm = e.stageInfo.taskMetrics
    if (tm != null) {
      def add(k: String, v: Long): Unit = sums(k).addAndGet(v)
      add("stages", 1); add("tasks", e.stageInfo.numTasks.toLong)
      add("cpu", tm.executorCpuTime)
      add("shr", tm.shuffleReadMetrics.totalBytesRead)
      add("shw", tm.shuffleWriteMetrics.bytesWritten)
      add("spill", tm.memoryBytesSpilled + tm.diskBytesSpilled)
      add("out", tm.outputMetrics.bytesWritten)
      add("rec", tm.outputMetrics.recordsWritten)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) peak.accumulateAndGet(e.taskMetrics.peakExecutionMemory, math.max)

  def reset(): Unit = { org.apache.spark.GraftListenerBridge.flushListeners(sc); sums.values.foreach(_.set(0)); peak.set(0) }
  def snapshot(): Counters = {
    org.apache.spark.GraftListenerBridge.flushListeners(sc)
    def g(k: String) = sums(k).get
    Counters(g("stages"), g("tasks"), g("cpu"), g("shr"), g("shw"), g("spill"),
      g("out"), g("rec"), peak.get)
  }
}

/** In-memory spans of one traced run, written out when the benchmark ends. */
final class Tracer(val runId: String) {
  final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  val spans = ArrayBuffer.empty[Span]

  def span[T](name: String, parent: String = "")(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally spans += Span(name, parent, t0, System.nanoTime())
  }
  def seconds(name: String): Double = spans.find(_.name == name).map(_.seconds).getOrElse(0.0)

  def writeJsonl(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"run_id":"$runId","name":"${s.name}","parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
