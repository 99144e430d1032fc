package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` is the op instance it belongs to,
  * `parent` the enclosing span (-1 for an op's root span). Times are
  * `System.nanoTime` readings. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    start: Long, end: Long)

/** Spans recorded on the driver thread around each call into a layer.
  * Every span also publishes its id and layer as Spark local
  * properties, so the jobs it submits (including those submitted from
  * threads it starts) carry the span that caused them. Spans are kept
  * in memory and written out when the benchmark ends. */
final class Tracer(sc: SparkContext) {
  var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  private var curOp = -1

  def all: Seq[Span] = spans.toSeq

  /** Root span of one op; ties every job it runs to it by job group. */
  def op[T](opId: Int, name: String)(body: => T): T =
    if (!enabled) body
    else {
      curOp = opId
      sc.setJobGroup(s"op-$opId", name)
      try span("op")(body) finally sc.clearJobGroup()
    }

  def span[T](layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      publish(id, layer)
      stack = (id, layer) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, curOp, layer, t0, System.nanoTime())
        stack = stack.tail
        stack.headOption match {
          case Some((p, l)) => publish(p, l)
          case None =>
            sc.setLocalProperty(Tracer.SpanKey, null)
            sc.setLocalProperty(Tracer.LayerKey, null)
        }
      }
    }

  private def publish(id: Int, layer: String): Unit = {
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    sc.setLocalProperty(Tracer.LayerKey, layer)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val LayerKey = "perfbench.layer"
}

/** A Spark job as seen by the listener, filed under its op and layer. */
final case class JobRec(op: Int, layer: String, span: Int, jobId: Int,
    firstStage: String, stages: Int, startMs: Long, var endMs: Long)

/** Task totals of one (op, layer) pair. */
final class TaskAgg {
  var stages, tasks = 0L
  var taskMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, output = 0L
}

/** Listener pair registered by the benchmark for traced passes: a
  * SparkListener for jobs, stages and tasks, and a
  * QueryExecutionListener for actions and their planning phases.
  * Jobs are filed by job group (one per op) and by the layer property
  * the [[Tracer]] publishes. Actions carry no properties, so they are
  * filed under `currentOp`; the runner drains the bus after every op,
  * which makes that exact. */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var currentOp = -1
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  private val stageOwner = mutable.HashMap.empty[Int, (Int, String)]
  private val tasks = mutable.LinkedHashMap.empty[(Int, String), TaskAgg]
  private val actions = mutable.ArrayBuffer.empty[(Int, String, Long, Double, Boolean)]

  private def owner(props: java.util.Properties): (Int, String, Int) = {
    def get(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    val op = get("spark.jobGroup.id").filter(_.startsWith("op-"))
      .map(_.stripPrefix("op-").toInt).getOrElse(currentOp)
    (op, get(Tracer.LayerKey).getOrElse("unknown"),
      get(Tracer.SpanKey).map(_.toInt).getOrElse(-1))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (op, layer, span) = owner(e.properties)
    val first = if (e.stageInfos.isEmpty) "" else e.stageInfos.minBy(_.stageId).name
    val rec = JobRec(op, layer, span, e.jobId, first, e.stageInfos.size, e.time, e.time)
    jobs += rec
    jobById(e.jobId) = rec
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val (op, layer, _) = owner(e.properties)
    stageOwner(e.stageInfo.stageId) = (op, layer)
    tasks.getOrElseUpdate((op, layer), new TaskAgg).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = stageOwner.getOrElse(e.stageId, (currentOp, "unknown"))
    val a = tasks.getOrElseUpdate(key, new TaskAgg)
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.output += m.outputMetrics.bytesWritten
    }
  }

  private def action(func: String, qe: QueryExecution, ns: Long, ok: Boolean): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized { actions += ((currentOp, func, planMs, ns / 1e6, ok)) }
  }

  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    action(func, qe, ns, ok = true)

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    action(func, qe, 0L, ok = false)

  def json: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.map(j => Seq(j.op, j.layer, j.span, j.jobId, j.firstStage,
        j.stages, j.startMs, j.endMs)).toSeq,
      "tasks" -> tasks.map { case ((op, layer), a) =>
        Map("op" -> op, "layer" -> layer, "stages" -> a.stages, "tasks" -> a.tasks,
          "task_ms" -> a.taskMs, "cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs,
          "shuffle_read" -> a.shuffleRead, "shuffle_write" -> a.shuffleWrite,
          "spill" -> a.spill, "output" -> a.output)
      }.toSeq,
      "actions" -> actions.map { case (op, f, p, d, ok) => Seq(op, f, p, d, ok) }.toSeq)
  }
}

/** Driver JVM memory readings. */
object Heap {
  /** Collects, then gives Spark's cleaner thread time to drop the
    * shuffle and broadcast state whose weak references the collection
    * queued, and collects what it freed. Readings taken after a single
    * collection differed by tens of MB from run to run, depending on
    * how far the cleaner thread had got. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(150)
    System.gc()
  }

  /** Heap in use once settled, in MB. */
  def settledMb(): Double = {
    settle()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Total collection time of all collectors so far, in ms. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case p: Product => apply(p.productIterator.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
