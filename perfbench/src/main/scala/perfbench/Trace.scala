package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One finished span: a call into a layer, made by the benchmark. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long)

/** Spans around every layer call the benchmark makes. Spans stay in memory
  * and are written out when the run ends. Disabled, a span is just the call.
  *
  * The span stack is per thread, so concurrent threads (writer, bookkeeper,
  * maintenance) each build their own trees. An op is a root span; every
  * span under it shares its op id.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong
  private val finished = new ConcurrentLinkedQueue[Span]
  // (span id, op id) of the open spans of this thread, innermost first
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val (parent, op) = stack.headOption.fold((0L, id))(h => (h._1, h._2))
      open.set((id, op) :: stack)
      // the listener attributes Spark jobs to the innermost open span
      val prevLayer = sc.getLocalProperty(Tracer.LayerKey)
      sc.setLocalProperty(Tracer.LayerKey, name)
      val start = System.nanoTime()
      try body
      finally {
        finished.add(Span(id, parent, op, name, start, System.nanoTime()))
        sc.setLocalProperty(Tracer.LayerKey, prevLayer)
        open.set(stack)
      }
    }

  def spans: Seq[Span] = finished.asScala.toSeq
}

object Tracer {
  val LayerKey = "perfbench.layer"
}

/** Task metrics summed per layer, attributing each job to the span that
  * was innermost on the thread that submitted it. Jobs no span submitted
  * (the streaming query's own thread) count under "streaming" or "other".
  */
final class LayerListener extends SparkListener {
  final class Acc {
    var jobs, tasks, taskMs, gcMs, shuffleRead, shuffleWrite, spill,
      fetchWaitMs, inputBytes, inputRecords, outputBytes, inputTasks = 0L
  }
  private val byLayer = mutable.HashMap.empty[String, Acc]
  private val stageLayer = mutable.HashMap.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val layer = props.flatMap(p => Option(p.getProperty(Tracer.LayerKey)))
      .orElse(props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .map(_ => "streaming"))
      .getOrElse("other")
    byLayer.getOrElseUpdate(layer, new Acc).jobs += 1
    e.stageIds.foreach(stageLayer(_) = layer)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = byLayer.getOrElseUpdate(
        stageLayer.getOrElse(e.stageId, "other"), new Acc)
      a.tasks += 1
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      if (m.inputMetrics.recordsRead > 0 || m.inputMetrics.bytesRead > 0)
        a.inputTasks += 1
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def snapshot: Map[String, Map[String, Long]] = synchronized {
    byLayer.map { case (k, a) =>
      k -> Map("jobs" -> a.jobs, "tasks" -> a.tasks, "task_ms" -> a.taskMs,
        "gc_ms" -> a.gcMs, "shuffle_read_bytes" -> a.shuffleRead,
        "shuffle_write_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill,
        "fetch_wait_ms" -> a.fetchWaitMs, "input_bytes" -> a.inputBytes,
        "input_records" -> a.inputRecords, "input_tasks" -> a.inputTasks,
        "output_bytes" -> a.outputBytes)
    }.toMap
  }

  def reset(): Unit = synchronized { byLayer.clear() }
}
