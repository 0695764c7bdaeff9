package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One finished task, reduced to the counters the layer metrics use.
  * `at` is its finish time (epoch ms), which places it in a span.
  */
final case class TaskRec(at: Long, cpuS: Double, gcS: Double, schedDelayS: Double,
    shuffleBytes: Long, spillBytes: Long)

/** Job and task counts from Spark's public listener API. Operations run
  * one at a time, so events are attributed to an operation by time window
  * after the run; nothing is looked up while an operation is being timed.
  */
final class Counters extends SparkListener {
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val markerJobs = ConcurrentHashMap.newKeySet[Integer]()
  private val markersSeen = ConcurrentHashMap.newKeySet[String]()
  private val MarkerKey = "perfbench.marker"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey)))
    tag match {
      case Some(_) => markerJobs.add(e.jobId)
      case None => jobStarts.add(e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.remove(e.jobId)) markersSeen.add(e.jobId.toString)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val gettingResult =
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      // Spark UI's scheduler delay: the part of the task's life spent
      // neither running, (de)serializing nor fetching its result
      val delayMs = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult
      tasks.add(TaskRec(i.finishTime, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        math.max(0L, delayMs) / 1e3, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled))
    }
  }

  /** Return once every event posted before this call has been delivered.
    * The listener bus is FIFO: when the end of a marker job arrives here,
    * everything queued ahead of it has arrived too.
    */
  def drain(sc: SparkContext): Unit = {
    sc.setLocalProperty(MarkerKey, "1")
    val jobId = try {
      val f = sc.parallelize(Seq(1), 1).countAsync()
      f.get()
      f.jobIds.head
    } finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!markersSeen.contains(jobId.toString) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }
}

/** A timed interval: setup, pass, op, or an op's build/plan/exec phase.
  * Spans of one operation share `opId`; `parent` is the enclosing span.
  */
final case class Span(id: Int, name: String, parent: Int, opId: Int,
    startMs: Double, endMs: Double) {
  def durS: Double = (endMs - startMs) / 1e3
}

/** Spans kept in memory and written out when the run ends. Times are
  * epoch milliseconds with sub-ms digits, on the same clock as Spark's
  * event times.
  */
final class Tracer(var on: Boolean) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer[Span]()
  private var nextId = 0

  /** Run `body` inside a span (recorded only when tracing is on). */
  def span[A](name: String, parent: Int, opId: Int)(body: Int => A): A = {
    val id = { nextId += 1; nextId }
    val s = nowMs
    try body(id)
    finally if (on) spans += Span(id, name, parent, opId, s, nowMs)
  }

  /** Self time per span id: duration minus the part its children cover. */
  def selfS: Map[Int, Double] = {
    val child = spans.groupMapReduce(_.parent)(_.durS)(_ + _)
    spans.iterator.map(s => s.id -> (s.durS - child.getOrElse(s.id, 0.0))).toMap
  }

  /** One JSON line per span; `counts` adds the listener counts of its window. */
  def write(path: String, counts: Span => String): Unit = {
    val self = selfS
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.opId}, """ +
        f""""start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, "self_s": ${self(s.id)}%.6f, """ +
        counts(s) + "}")
    } finally w.close()
  }
}
