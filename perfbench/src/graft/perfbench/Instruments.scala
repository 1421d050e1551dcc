package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{BenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON encoder for the runner's result file. */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }
}

/** SparkListener registered by the benchmark: sums task, stage and job
  * metrics over a measurement window opened by [[reset]].
  */
final class Meter extends SparkListener {
  private val c = mutable.LinkedHashMap.empty[String, Double]
  private val taskMs = mutable.ArrayBuffer.empty[Long]
  private def add(k: String, v: Double): Unit = c.update(k, c.getOrElse(k, 0.0) + v)

  def reset(sc: SparkContext): Unit = {
    BenchBus.drain(sc)
    synchronized { c.clear(); taskMs.clear() }
  }

  /** Window totals, after every event of the window has been delivered. */
  def snapshot(sc: SparkContext): Map[String, Double] = {
    BenchBus.drain(sc)
    synchronized {
      val sorted = taskMs.sorted
      def pct(p: Double) =
        if (sorted.isEmpty) 0.0 else sorted(((sorted.length - 1) * p).round.toInt).toDouble
      Seq("jobs", "stages", "tasks", "task_failures", "cpu_s", "shuffle_mb",
        "shuffle_read_mb", "fetch_wait_ms", "spill_mb", "gc_ms", "input_mb",
        "output_mb", "sched_delay_ms").map(k => k -> c.getOrElse(k, 0.0)).toMap ++
        Map("task_p50_ms" -> pct(0.5), "task_max_ms" -> pct(1.0))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { add("jobs", 1) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add("stages", 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val mb = 1.0 / (1 << 20)
    add("tasks", 1)
    if (e.reason != Success) add("task_failures", 1)
    val info = e.taskInfo
    taskMs += info.duration
    val m = e.taskMetrics
    if (m != null) {
      add("cpu_s", m.executorCpuTime / 1e9)
      add("shuffle_mb", m.shuffleWriteMetrics.bytesWritten * mb)
      add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead * mb)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) * mb)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("input_mb", m.inputMetrics.bytesRead * mb)
      add("output_mb", m.outputMetrics.bytesWritten * mb)
      // the scheduler-delay formula of Spark's own UI
      add("sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime).toDouble)
    }
  }
}

/** StreamingQueryListener registered by the benchmark: one record per
  * completed micro-batch of the current query.
  */
final class StreamMeter extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[Map[String, Double]]
  def reset(): Unit = synchronized(progress.clear())
  def records: Seq[Map[String, Double]] = synchronized(progress.toList)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    synchronized {
      progress += Map(
        "input_rows" -> p.numInputRows.toDouble,
        "state_rows" -> ops.map(_.numRowsTotal).sum.toDouble,
        "state_mb" -> ops.map(_.memoryUsedBytes).sum / (1 << 20).toDouble,
        "evicted_rows" -> ops.map(_.numRowsRemoved).sum.toDouble) ++
        p.durationMs.asScala.map { case (k, v) => s"ms.$k" -> v.doubleValue }
    }
  }
}

/** Peak used heap over a window: pool peaks are reset at window start. */
object Heap {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / (1 << 20).toDouble
}

/** In-memory span recorder. Spans are opened and closed on one thread,
  * so the parent of a new span is the innermost open one. Disabled, it
  * records nothing and only runs the body.
  */
final class Tracer(val enabled: Boolean, t0: Long) {
  final case class Span(id: Int, parent: Int, name: String, trace: String,
                        start: Long, end: Long)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var next = 1
  var trace: String = ""

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val s = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, trace, s - t0, System.nanoTime() - t0)
        open = open.tail
      }
    }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try done.foreach { s =>
      w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "trace" -> s.trace, "start_ns" -> s.start, "end_ns" -> s.end)))
    } finally w.close()
  }
}
