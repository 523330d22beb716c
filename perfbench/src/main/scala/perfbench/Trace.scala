package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Spans of one op share `trace`;
  * `parent` is the id of the enclosing span, or -1. */
final case class Span(trace: Int, id: Int, parent: Int, name: String,
    startMs: Long, endMs: Long, seconds: Double)

/** Spans kept in memory for the whole run and written out at its end. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var trace = 0

  def begin(traceId: Int): Unit = { trace = traceId; stack = Nil }

  def span[T](name: String)(f: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += null // reserve the id so children number after their parent
    stack = id :: stack
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      stack = stack.tail
      spans(id) = Span(trace, id, parent, name, wall0, System.currentTimeMillis(), secs)
    }
  }

  /** Summed duration of this trace's spans named `name`. */
  def total(traceId: Int, name: String): Double =
    spans.iterator.filter(s => s.trace == traceId && s.name == name).map(_.seconds).sum

  def last(traceId: Int, name: String): Span =
    spans.reverseIterator.find(s => s.trace == traceId && s.name == name).get

  def writeJsonl(p: java.nio.file.Path, workload: String): Unit = {
    val lines = spans.map(s => Json(Map("workload" -> workload, "trace" -> s.trace, "id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "seconds" -> s.seconds)))
    java.nio.file.Files.write(p, lines.asJava)
  }
}

/** Spark job and task events, read per time window. */
final class SparkRecorder(spark: SparkSession) extends SparkListener {
  private final case class Job(start: Long, end: Long)
  private final case class Task(finish: Long, runMs: Long, gcMs: Long, bytesWritten: Long)
  private val started = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = { started.put(e.jobId, e.time); () }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach(s => jobs.add(Job(s, e.time)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime, m.jvmGCTime,
      m.outputMetrics.bytesWritten))
    ()
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
  def clear(): Unit = { jobs.clear(); tasks.clear() }

  final case class Window(jobs: Int, tasks: Int, taskS: Double, gcS: Double,
      bytesWritten: Long, jobUnionS: Double)

  /** Jobs that started and tasks that finished within [t0, t1] (epoch ms). */
  def window(t0: Long, t1: Long): Window = {
    val js = jobs.asScala.filter(j => j.start >= t0 && j.start <= t1).toSeq
    val ts = tasks.asScala.filter(t => t.finish >= t0 && t.finish <= t1).toSeq
    // union of job intervals, clipped to the window
    val merged = js.map(j => (j.start, math.min(j.end, t1))).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((s0, e0) :: tl, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: tl
        case (acc, iv) => iv :: acc
      }
    Window(js.size, ts.size, ts.map(_.runMs).sum / 1e3, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.bytesWritten).sum, merged.map { case (s, e) => e - s }.sum / 1e3)
  }
}
