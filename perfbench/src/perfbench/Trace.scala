package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run. Spans are taken from the
  * benchmark's own code, around each call into a graft layer; nothing inside
  * graft is instrumented. The client is single-threaded, so one stack of
  * open spans is enough. When tracing is off, [[span]] runs its body and
  * records nothing, so the timed runs pay one branch per call.
  *
  * The open span's name and the current op travel to Spark as local
  * properties, so [[Meter]] can attribute every job, stage and task to the
  * op and layer that launched it. */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, op: String, t0: Long, t1: Long)

  @volatile private var on = false
  private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val opWall = mutable.ArrayBuffer.empty[(Long, Long)]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  private var op = ""

  def enable(context: SparkContext): Unit = { sc = context; on = true }
  def disable(): Unit = {
    on = false
    if (sc != null) { sc.setLocalProperty(Meter.SpanKey, null); sc.setLocalProperty(Meter.OpKey, null) }
  }
  def recorded: Seq[Span] = spans.toSeq

  /** Whether wall-clock time `ms` fell inside a traced op. */
  def inOp(ms: Long): Boolean = opWall.exists { case (a, b) => a <= ms && ms <= b }

  /** Root span of one op; its children are the layer spans. */
  def op[T](name: String)(body: => T): T =
    if (!on) body
    else {
      op = name
      sc.setLocalProperty(Meter.OpKey, name)
      val w0 = System.currentTimeMillis()
      // the untimed output check runs after this, outside any op
      try span("op")(body)
      finally {
        sc.setLocalProperty(Meter.OpKey, null)
        opWall += ((w0, System.currentTimeMillis()))
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setLocalProperty(Meter.SpanKey, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Meter.SpanKey, stack.headOption.map(_._2).orNull)
        spans += Span(id, parent, name, op, t0, t1)
      }
    }
}

/** Engine counters for the traced window: one SparkListener plus one
  * QueryExecutionListener, registered only for that window. Task metrics are
  * summed per (op, span) of the job that ran them; jobs outside an op (the
  * untimed output checks) are not counted. */
final class Meter extends SparkListener with QueryExecutionListener {
  import Meter._

  private val stageKey = mutable.Map.empty[Int, (String, String)]
  val counts = mutable.Map.empty[(String, String), mutable.Map[String, Double]]
  /** (planning start, planning ms) of every query that succeeded. */
  val plans = mutable.ArrayBuffer.empty[(Long, Double)]

  private def bump(k: (String, String), field: String, v: Double): Unit = {
    val m = counts.getOrElseUpdate(k, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    m(field) += v
  }

  private def keyOf(props: java.util.Properties): Option[(String, String)] =
    Option(props).flatMap(p => Option(p.getProperty(OpKey)))
      .map(op => (op, Option(props.getProperty(SpanKey)).getOrElse(NoOp)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    keyOf(e.properties).foreach { k =>
      e.stageInfos.foreach(s => stageKey(s.stageId) = k)
      bump(k, "jobs", 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(bump(_, "stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach(onTask(_, e))
  }

  private def onTask(k: (String, String), e: SparkListenerTaskEnd): Unit = {
    bump(k, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      bump(k, "exec_cpu_ms", m.executorCpuTime / 1e6)
      bump(k, "exec_run_ms", m.executorRunTime.toDouble)
      bump(k, "gc_ms", m.jvmGCTime.toDouble)
      bump(k, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      bump(k, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
      bump(k, "shuffle_read_bytes",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      bump(k, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      bump(k, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      // scheduler delay as the Spark UI defines it: task wall time not spent
      // deserializing, running or serializing the result
      val info = e.taskInfo
      val sched = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      bump(k, "sched_ms", math.max(0L, sched).toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum.toDouble))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Meter {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  val NoOp = "-"
}
