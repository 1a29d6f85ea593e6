package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Minimal JSON writer for the raw record the Python reporter reads:
  * Map / Seq / Array / Option / numbers / booleans / strings.
  */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.result() }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Number => sb ++= n.toString
    case m: collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','; first = false
        str(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case a: Array[_] => write(sb, a.toSeq)
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; write(sb, x) }
      sb += ']'
    case p: Product => write(sb, p.productElementNames.zip(p.productIterator).toMap)
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""; case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"; case '\r' => sb ++= "\\r"; case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}

/** Wall-clock milliseconds with sub-millisecond resolution, on the same
  * epoch base Spark's listener events use, so spans and job windows compare.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Long, name: String, parent: Long, req: String,
                      start: Double, end: Double, group: String)

/** In-memory spans around the benchmark's calls into each layer. A span's
  * parent is the innermost open span on the same thread; `req` ties the
  * spans of one request or operation together. When tracing is off, `span`
  * only runs the body (no clock reads, no allocation).
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[A](name: String, req: String = "", group: String = "")(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = Clock.ms()
      try f
      finally {
        done.add(Span(id, name, stack.headOption.getOrElse(0L), req, t0, Clock.ms(), group))
        open.set(stack)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Per-stage and per-job records from the Spark listener bus: task counts,
  * run/CPU/GC time, scheduler delay, shuffle read/write and spill, plus the
  * job group each job was submitted under (the attribution key; jobs from
  * threads without a group are attributed by time window).
  */
final class SparkEvents extends SparkListener {
  final class StageRec(val id: Int) {
    var job = -1
    var submit = 0.0; var complete = 0.0
    var firstLaunch = Double.MaxValue; var lastFinish = 0.0
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  final case class JobRec(id: Int, group: String, start: Double, var end: Double)

  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, g, e.time.toDouble, 0.0)
    e.stageIds.foreach(s => stage(s).job = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submit = e.stageInfo.submissionTime.getOrElse(0L).toDouble
    s.complete = e.stageInfo.completionTime.getOrElse(0L).toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    val info = e.taskInfo
    s.tasks += 1
    s.firstLaunch = math.min(s.firstLaunch, info.launchTime.toDouble)
    s.lastFinish = math.max(s.lastFinish, info.finishTime.toDouble)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Jobs and stages as plain maps, after the listener bus has drained. */
  def snapshot(sc: SparkContext): Map[String, Any] = {
    org.apache.spark.BusDrain(sc)
    synchronized {
      Map(
        "jobs" -> jobs.values.map(j => Map("id" -> j.id, "group" -> j.group,
          "start" -> j.start, "end" -> j.end)).toSeq,
        "stages" -> stages.values.map(s => Map("id" -> s.id, "job" -> s.job,
          "submit" -> s.submit, "complete" -> s.complete,
          "first_launch" -> (if (s.tasks == 0) 0.0 else s.firstLaunch),
          "last_finish" -> s.lastFinish, "tasks" -> s.tasks,
          "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
          "sched_ms" -> s.schedMs, "shuffle_read" -> s.shuffleRead,
          "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill)).toSeq)
    }
  }
}
