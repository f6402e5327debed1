package eltbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.SparkContext

/** How long `GraftSession.local()` took, and when it returned (epoch s). */
final case class Session(startS: Double, returnedEpochS: Double)

/** Everything one benchmark JVM observed, written out as one JSON file. */
final class Result {
  /** (kind, seconds) per operation; None = the operation threw. */
  val attempts = ArrayBuffer.empty[(String, Option[Double])]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val metrics = ArrayBuffer.empty[(String, String, Double, Int, String)]
  /** One map per traced operation: metric name -> (value, unit). */
  val layers = ArrayBuffer.empty[Map[String, (Double, String)]]
  val releaseS = ArrayBuffer.empty[Double]
  val notes = ArrayBuffer.empty[String]

  /** Run one operation. A throw is recorded as a failure and yields None,
    * so a failed operation never becomes a latency sample. */
  def attempt(kind: String)(body: => Double): Option[Double] = {
    val out = try Some(body) catch {
      case NonFatal(e) =>
        System.err.println(s"[eltbench] $kind failed: $e")
        e.printStackTrace()
        None
    }
    attempts += ((kind, out))
    out
  }

  def check(name: String, ok: Boolean, detail: String): Unit = {
    if (!ok) System.err.println(s"[eltbench] check failed: $name ($detail)")
    checks += ((name, ok, detail))
  }

  def metric(name: String, unit: String, value: Double, n: Int, note: String): Unit =
    metrics += ((name, unit, value, n, note))

  def note(s: String): Unit = notes += s

  /** Each per-layer metric as the median over `perPass` (one map per traced
    * pass), plus the metrics every traced run reports. */
  def traceMetrics(perPass: Seq[Map[String, (Double, String)]], session: Session,
      untraced: Seq[Option[Double]], traced: Seq[Option[Double]]): Unit = {
    val n = perPass.length
    perPass.headOption.foreach(_.toSeq.sortBy(_._1).foreach { case (k, (_, unit)) =>
      metric(k, unit, Stats.median(perPass.map(_(k)._1)), n, s"median of $n traced passes")
    })
    metric("session.start_s", "s", session.startS, 1, "GraftSession.local() call")
    metric("ops.release_s", "s", Stats.median(releaseS.toSeq), releaseS.length,
      "OpCaches.releaseAll + wait for unpersist, median per operation")
    val u = Stats.median(Stats.samples(untraced))
    val t = Stats.median(Stats.samples(traced))
    metric("trace.overhead_frac", "ratio", t / u - 1, traced.length,
      s"median traced pass $t s over median untraced pass $u s, interleaved")
  }

  /** Every operation and every check is one attempt; a failed check counts
    * as a failed operation. */
  def attempted: Int = attempts.length + checks.length
  def failed: Int = attempts.count(_._2.isEmpty) + checks.count(!_._2)

  def toJson(session: Session): String = Json.obj(Seq(
    "session_start_s" -> Json.num(session.startS),
    "session_returned_epoch_s" -> Json.num(session.returnedEpochS),
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "passes" -> Json.arr(attempts.map { case (k, s) =>
      Json.obj(Seq("kind" -> Json.str(k), "s" -> s.map(Json.num).getOrElse("null")))
    }),
    "checks" -> Json.arr(checks.map { case (n, ok, d) =>
      Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
    }),
    "metrics" -> Json.obj(metrics.map { case (n, u, v, c, note) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u), "n" -> c.toString,
        "note" -> Json.str(note)))
    }),
    "notes" -> Json.arr(notes.map(Json.str))))
}

object Release {
  /** `OpCaches.releaseAll()` and the wait until Spark holds no persisted
    * RDD, so one operation's asynchronous cleanup stays out of the next
    * one's time. Returns the seconds it took. */
  def all(sc: SparkContext): Double = {
    val t0 = System.nanoTime()
    graft.ops.OpCaches.releaseAll()
    val deadline = t0 + 60L * 1000 * 1000 * 1000
    while (sc.getPersistentRDDs.nonEmpty && System.nanoTime() < deadline) Thread.sleep(5)
    (System.nanoTime() - t0) / 1e9
  }
}

object Dirs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  final case class Size(bytes: Long, files: Int)

  /** Parquet data files (no checksums, no markers) under the given zones. */
  def parquetStats(wh: File, zones: Seq[String]): Size = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = zones.flatMap(z => walk(new File(wh, z)))
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    Size(files.map(_.length).sum, files.length)
  }
}

/** The Spark work of one operation, as per-layer metrics. */
object SparkLayer {
  def metrics(c: Counters, opSeconds: Double): Map[String, (Double, String)] = Map(
    "spark.jobs" -> ((c.jobs.toDouble, "count")),
    "spark.stages" -> ((c.stages.toDouble, "count")),
    "spark.tasks" -> ((c.tasks.toDouble, "count")),
    "spark.task_cpu_s" -> ((c.cpuNs / 1e9, "s")),
    "spark.task_run_s" -> ((c.runMs / 1e3, "s")),
    "spark.gc_s" -> ((c.gcMs / 1e3, "s")),
    "spark.input_mb" -> ((c.inputBytes / 1e6, "MB")),
    "spark.shuffle_mb" -> ((c.shuffleBytes / 1e6, "MB")),
    "spark.spill_mb" -> ((c.spillBytes / 1e6, "MB")),
    "spark.peak_exec_mem_mb" -> ((c.peakMem / 1e6, "MB")),
    // operation wall time during which no job ran
    "spark.driver_gap_s" -> ((math.max(0.0, opSeconds - Stats.unionSeconds(c.jobSpans.toSeq)), "s")))
}
