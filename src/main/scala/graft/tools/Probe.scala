package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one measurement loop behind `graft.Bench` and the drill mains.
  *
  * One listener per SparkContext counts the jobs started, the tasks
  * ended, their CPU, the max task `peakExecutionMemory`, the total
  * `memoryBytesSpilled` and the total shuffle-write bytes, and logs each
  * completed stage. Listener events
  * arrive asynchronously, so [[measure]] drains the listener bus before it
  * zeroes the counters and again before it reads them: what it returns is
  * the work of its body only.
  */
final class Probe private (sc: SparkContext) {
  private val jobs, tasks, cpuNs, peakMem, spill, shuffleBytes = new AtomicLong(0L)
  private val stages = new ConcurrentLinkedQueue[Probe.Stage]()
  // listenerBus and waitUntilEmpty are private[spark], which is public to the JVM
  private val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
  private val waitUntilEmpty = bus.getClass.getMethod("waitUntilEmpty")

  sc.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = te.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        peakMem.getAndAccumulate(m.peakExecutionMemory, math.max(_, _))
        spill.addAndGet(m.memoryBytesSpilled)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val wallMs = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b)
        .getOrElse(-1L)
      stages.add(Probe.Stage(i.stageId, i.numTasks, wallMs,
        i.taskMetrics.executorCpuTime, i.taskMetrics.executorRunTime,
        i.name.takeWhile(_ != '\n')))
    }
  })

  private def drain(): Unit = waitUntilEmpty.invoke(bus)

  /** Runs `body` and returns its result with the counters of its own
    * work. Not reentrant: a nested call zeroes the outer counters. */
  def measure[T](body: => T): (T, Probe.Counters) = {
    drain()
    Seq(jobs, tasks, cpuNs, peakMem, spill, shuffleBytes).foreach(_.set(0L))
    stages.clear()
    val result = body
    drain()
    (result, Probe.Counters(jobs.get, tasks.get, cpuNs.get, peakMem.get,
      spill.get, shuffleBytes.get, stages.asScala.toSeq))
  }
}

object Probe {
  /** What one measured body ran: `peakMem` is the max over its tasks,
    * the rest are totals (`shuffleBytes`: bytes its tasks wrote to
    * shuffle files). */
  final case class Counters(jobs: Long, tasks: Long, cpuNs: Long,
      peakMem: Long, spill: Long, shuffleBytes: Long, stages: Seq[Stage])

  /** One completed stage: wall and run times in ms, CPU in ns. */
  final case class Stage(id: Int, tasks: Int, wallMs: Long, cpuNs: Long,
      runMs: Long, name: String)

  private val installed = new java.util.WeakHashMap[SparkContext, Probe]()

  /** The probe of `spark`'s context; the first call installs its listener. */
  def apply(spark: SparkSession): Probe = installed.synchronized {
    installed.computeIfAbsent(spark.sparkContext, new Probe(_))
  }

  /** Builds `frame` and runs it with a `noop` write, then releases the
    * operator caches the run persisted ([[graft.ops.OpCaches]]). A noop
    * write executes every projection, where `count()` lets Catalyst prune
    * the columns and skip the work. `frame` is taken by name so that each
    * call runs a fresh plan: running one Dataset twice can reuse its
    * executed plan, and Spark then skips the shuffle stages that already
    * completed (BENCH_NOTES "Measurement-methodology trap"). */
  def force(frame: => DataFrame): Unit =
    try frame.write.format("noop").mode("overwrite").save()
    finally graft.ops.OpCaches.releaseAll()

  /** Seconds [[force]] takes: the query's construction, including any
    * eager jobs its operators run, through the write and the release. */
  def seconds(frame: => DataFrame): Double = {
    val t0 = System.nanoTime()
    force(frame)
    (System.nanoTime() - t0) / 1e9
  }
}
