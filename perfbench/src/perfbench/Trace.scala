package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval on the driver thread. Spans nest: `parent` is the id
  * of the span that was open when this one began (-1 for a root). */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task counters summed over one stage. */
final class StageCounters {
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input, output, tasks = 0L
  var wallMs = 0L
  val taskMs = ArrayBuffer.empty[Long]
}

/** Spans kept in memory, plus a `SparkListener` that keys every stage to the
  * span whose call submitted its job (through a thread-local job property).
  *
  * With `enabled = false` no span is recorded, no job property is set and the
  * listener is never registered, so an untraced run pays nothing for it. */
final class Tracer(sc: SparkContext, val run: String, val enabled: Boolean)
    extends SparkListener {

  private val Key = "perfbench.span"
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageCounters]()

  if (enabled) sc.addSparkListener(this)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), run, System.nanoTime())
      spans += s
      stack = s :: stack
      val outer = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Key, outer)
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .flatMap(_.toIntOption).getOrElse(-1)
    e.stageIds.foreach(stageSpan.put(_, id))
  }

  private def counters(stageId: Int): StageCounters =
    stages.computeIfAbsent(stageId, _ => new StageCounters)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(e.stageId)
    c.synchronized {
      c.tasks += 1
      c.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime) {
      val c = counters(i.stageId)
      c.synchronized(c.wallMs += b - a)
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Stages whose job was submitted inside one of the spans `ids`. */
  def stagesOf(ids: Set[Int]): Seq[StageCounters] =
    stageSpan.asScala.collect {
      case (stage, span) if ids(span) && stages.containsKey(stage) => stages.get(stage)
    }.toSeq

  /** Stages submitted inside `root` or one of its descendants. */
  def stagesUnder(root: Span): Seq[StageCounters] = stagesOf(descendants(root).map(_.id).toSet)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def descendants(s: Span): Seq[Span] = s +: children(s).flatMap(descendants)

  /** Duration minus the time covered by child spans (children run one at a
    * time on the driver thread, so they never overlap). */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  /** Every span with its self time and the counters of the stages it
    * submitted itself (not those of its children). */
  def toJson: String = {
    val rows = spans.map { s =>
      val own = stagesOf(Set(s.id))
      def sum(f: StageCounters => Long) = own.map(f).sum
      f"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"run":${Json.str(s.run)},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}%.6f,""" +
        f""""stages":${own.size},"tasks":${sum(_.tasks)},"executor_run_ms":${sum(_.runMs)},""" +
        f""""executor_cpu_ns":${sum(_.cpuNs)},"gc_ms":${sum(_.gcMs)},""" +
        f""""shuffle_write_bytes":${sum(_.shuffleWrite)},"shuffle_read_bytes":${sum(_.shuffleRead)},""" +
        f""""spill_bytes":${sum(_.spill)},"input_bytes":${sum(_.input)},"output_bytes":${sum(_.output)}}"""
    }
    rows.mkString("[\n", ",\n", "\n]\n")
  }
}
