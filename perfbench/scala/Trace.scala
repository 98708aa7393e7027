package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters summed over the tasks and jobs of one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var schedulerDelayMs = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks,
    "executor_run_s" -> executorRunMs / 1e3, "executor_cpu_s" -> executorCpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "input_bytes" -> inputBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "scheduler_delay_s" -> schedulerDelayMs / 1e3)
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
    run: String)

/** In-memory span recorder. Spans wrap the benchmark's own calls into
  * each layer; the engine counters of every Spark job submitted inside
  * a span are attributed to it through a thread-local job property that
  * the listener reads back. Disabled, [[span]] only runs its body. */
final class Tracer(run: String) {
  @volatile var enabled = false
  private val nextId = new AtomicInteger(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  val counters = new ConcurrentHashMap[Int, Counters]()
  @volatile var sc: SparkContext = _

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId.getAndIncrement()
    val parents = stack.get()
    val ctx = sc
    val prevProp = if (ctx != null) ctx.getLocalProperty(Tracer.Prop) else null
    stack.set(id :: parents)
    if (ctx != null) ctx.setLocalProperty(Tracer.Prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, name, parents.headOption.getOrElse(0), t0, System.nanoTime(), run))
      stack.set(parents)
      if (ctx != null) ctx.setLocalProperty(Tracer.Prop, prevProp)
    }
  }

  def counterOf(id: Int): Counters = counters.computeIfAbsent(id, _ => new Counters)

  /** Spans with their own (not children's) engine counters. */
  def export(t0Ns: Long): Seq[Map[String, Any]] =
    spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_s" -> (s.startNs - t0Ns) / 1e9, "end_s" -> (s.endNs - t0Ns) / 1e9,
        "spark" -> Option(counters.get(s.id)).getOrElse(new Counters).toMap)
    }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Engine counters per span (span 0 = work outside any span). */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .flatMap(_.toIntOption).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = spanOf(e.properties)
    val c = tracer.counterOf(id)
    c.synchronized { c.jobs += 1 }
    e.stageIds.foreach(s => stageSpan.put(s, id))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.putIfAbsent(e.stageInfo.stageId, spanOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = tracer.counterOf(stageSpan.getOrDefault(e.stageId, 0))
    val info = e.taskInfo
    val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - info.gettingResultTime
    c.synchronized {
      c.tasks += 1
      c.executorRunMs += m.executorRunTime
      c.executorCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.schedulerDelayMs += math.max(0L, delay)
    }
  }
}
