package cfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so the
  * harness's spans line up with Spark listener event times (epoch ms).
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

/** The CPU ticks of the whole machine, from `/proc/stat`: time its CPUs
  * spent running, and time the hypervisor took from them while they wanted
  * to run (steal). On a shared host another tenant's load shows as steal;
  * an op's wall time scaled by the unstolen share of the CPU time it wanted
  * is its time on CPUs of its own.
  */
object CpuTicks {
  final case class Ticks(busy: Long, steal: Long)

  def read(): Ticks =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      // user nice system idle iowait irq softirq steal ...
      Ticks(f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
    } catch { case scala.util.control.NonFatal(_) => Ticks(0L, 0L) }

  /** Share of the CPU time wanted between `a` and `b` that was stolen. */
  def stealShare(a: Ticks, b: Ticks): Double = {
    val steal = b.steal - a.steal
    val wanted = b.busy - a.busy + steal
    if (wanted > 0) steal.toDouble / wanted else 0.0
  }
}

final class Span(val id: Long, val parent: Long, val name: String,
    val start: Double) {
  var end: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def json: String = Json.obj(Seq("kind" -> "span", "id" -> id,
    "parent" -> parent, "name" -> name, "start" -> start, "end" -> end,
    "attrs" -> attrs))
}

/** Spans recorded by the benchmark's single client thread around its calls
  * into each layer. Kept in memory; written out once when the run ends.
  * `enabled` is flipped per op, so traced and untraced ops can interleave.
  */
final class Spans {
  var enabled = false
  private var nextId = 1L
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  /** Run `body` inside a span (or plainly when tracing is off). */
  def apply[T](name: String)(body: Option[Span] => T): T =
    if (!enabled) body(None)
    else {
      val s = new Span(nextId, stack.headOption.fold(0L)(_.id), name,
        Clock.nowMs)
      nextId += 1
      recorded += s
      stack = s :: stack
      try body(Some(s))
      finally { s.end = Clock.nowMs; stack = stack.tail }
    }

  /** A child span whose interval was measured elsewhere (e.g. by Spark). */
  def child(parent: Span, name: String, start: Double, end: Double): Span = {
    val s = new Span(nextId, parent.id, name, start)
    nextId += 1
    s.end = end
    recorded += s
    s
  }

  def all: Seq[Span] = recorded.toSeq
}

/** Spark runtime seen through a `SparkListener`: one record per job with
  * its job group (which the harness sets per query), its span, and the
  * task metrics of its stages. Events arrive on Spark's listener thread,
  * after the fact, so every job is recorded; the trace analysis drops the
  * jobs of untraced units by their job group.
  */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val group: String, val description: String,
      val start: Long) {
    @volatile var end = -1L
    @volatile var succeeded = false
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var deserMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L

    def json: String = Json.obj(Seq("kind" -> "job", "id" -> id,
      "group" -> group, "description" -> description,
      "start" -> start.toDouble, "end" -> end.toDouble,
      "succeeded" -> succeeded, "tasks" -> tasks, "run_ms" -> runMs,
      "cpu_ms" -> cpuNs / 1e6, "deser_ms" -> deserMs, "gc_ms" -> gcMs,
      "shuffle_write_bytes" -> shuffleWriteBytes))
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) =
      props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val j = new Job(e.jobId, prop("spark.jobGroup.id"),
      prop("spark.job.description"), e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.succeeded = e.jobResult == JobSucceeded
      j.end = e.time
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.deserMs += m.executorDeserializeTime
          j.gcMs += m.jvmGCTime
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

  /** Wait until every recorded job has ended (listener events are
    * delivered asynchronously), then return the records.
    */
  def drain(timeoutMs: Long): Seq[Job] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = jobs.values.asScala.exists(_.end < 0)
    while (open && System.currentTimeMillis() < deadline) Thread.sleep(20)
    // task-end events for a job may trail its job-end event
    Thread.sleep(200)
    jobs.values.asScala.toSeq.sortBy(_.id)
  }
}

/** Minimal JSON encoder for the harness's own output. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.fold("null")(value)
    case m: collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
