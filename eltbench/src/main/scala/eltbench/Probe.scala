package eltbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work counters of one job group (one layer call of one operation). */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var inputBytes, shuffleBytes, spillBytes, peakMem = 0L
  /** (start, end) of every finished job, epoch ms. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; peakMem = math.max(peakMem, o.peakMem)
    jobSpans ++= o.jobSpans
  }
}

/** A listener that files Spark's task, stage and job events under the job
  * group that was set on the calling thread when the job started. The
  * benchmark sets one group per layer call (`<op>/<layer>`), so counters are
  * attributed to layers without any tracing inside the engine. Jobs started
  * with no group are filed under "".
  */
final class Probe(sc: SparkContext) extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()

  // listenerBus / waitUntilEmpty are private[spark], which is public in bytecode
  private val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
  private val waitUntilEmpty = bus.getClass.getMethod("waitUntilEmpty")

  sc.addSparkListener(this)

  private def counters(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup.put(e.jobId, (g, e.time))
    e.stageIds.foreach(stageGroup.put(_, g))
    val c = counters(g)
    c.synchronized(c.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { case (g, start) =>
      val c = counters(g)
      c.synchronized(c.jobSpans += ((start, e.time)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stageGroup.getOrDefault(e.stageId, ""))
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      }
    }
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = waitUntilEmpty.invoke(bus)

  /** Sum of the counters of every group that `keep` accepts (drain first). */
  def total(keep: String => Boolean = _ => true): Counters = {
    val out = new Counters
    byGroup.asScala.foreach { case (g, c) => if (keep(g)) c.synchronized(out.add(c)) }
    out
  }
}

object Probe {
  /** Run `body` with Spark job group `id` on this thread, so its jobs are
    * filed under `id`. */
  def inGroup[T](sc: SparkContext, id: String)(body: => T): T = {
    sc.setJobGroup(id, s"eltbench $id", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}

/** One timed interval of the benchmark: a call into one engine layer. */
final case class Span(name: String, op: String, parent: Option[String], startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory; written out once, when the run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String, op: String, parent: Option[String] = None)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally spans += Span(name, op, parent, t0, System.nanoTime())
  }

  /** Summed seconds of the spans called `name` within operation `op`. */
  def seconds(op: String, name: String): Double =
    spans.iterator.filter(s => s.op == op && s.name == name).map(_.seconds).sum

  def count(op: String, name: String): Int = spans.count(s => s.op == op && s.name == name)

  def writeJsonLines(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("name" -> Json.str(s.name), "op" -> Json.str(s.op),
        "parent" -> s.parent.map(Json.str).getOrElse("null"),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))
    } finally w.close()
  }
}

/** The little JSON the benchmark emits. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
