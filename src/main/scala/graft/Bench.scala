package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall seconds and peak memory.
  *
  * Each query is forced with a `noop`-format write — unlike `count()`,
  * this executes the full plan including projections (count() lets
  * Catalyst prune all columns and skip the actual work).
  *
  * Memory columns (the r9 verdict's instrumentation ask — "bounded
  * state" claims need numbers, not plan-reading):
  *  - `peakMem` = per query, the MAX over tasks of
  *    `taskMetrics.peakExecutionMemory` (unified-memory execution
  *    consumption: join/agg/sort state) across both timed runs — the
  *    number that catches a q32-class unbounded-reducer plan growing
  *    with the corpus instead of the domain;
  *  - `spill` = per query, total `memoryBytesSpilled` — nonzero means
  *    the plan survived by spilling, the early warning below an OOM.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val sc = spark.sparkContext
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    val spill = new java.util.concurrent.atomic.AtomicLong(0L)
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          peak.getAndAccumulate(m.peakExecutionMemory, math.max(_, _))
          spill.addAndGet(m.memoryBytesSpilled)
        }
      }
    })
    // listener events are async; drain before reading the counters
    // (listenerBus/waitUntilEmpty are private[spark] = JVM-public)
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val drain = bus.getClass.getMethod("waitUntilEmpty")
    def force(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      finally graft.ops.OpCaches.releaseAll() // per-query cache hygiene
      (System.nanoTime() - t0) / 1e9
    }
    // optional comma-separated filter for local iteration (driver sets
    // only SF_DIR/CPUS/BENCH_OUT, so driver runs always bench everything)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // JIT warm-up: every native function's shared static helper gets
    // pushed through the compile tiers once per JVM (the q44-class
    // first-sample bimodality root cause), then one full query
    // amortizes session/codegen startup
    graft.tools.NativeWarmup.warmup(spark)
    names.headOption.foreach(force)
    // min of two runs per query: second run benefits from JIT-warmed
    // codegen paths, min filters one-off GC/compilation noise
    val results = names.map { n =>
      drain.invoke(bus)
      peak.set(0L); spill.set(0L)
      val a = force(n)
      val b = force(n)
      drain.invoke(bus)
      (n, if (a < 0 || b < 0) -1.0 else math.min(a, b), peak.get, spill.get)
    }
    def obj(f: ((String, Double, Long, Long)) => String): String =
      results.map(r => "\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    val qs = obj(_._2.toString)
    val pm = obj(_._3.toString)
    val sp = obj(_._4.toString)
    val total = results.map(_._2).filter(_ >= 0).sum
    // a failed query reads -1 in "queries" and is left out of the total:
    // name it, so a crash never reads as a speed-up
    val failed = results.filter(_._2 < 0).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    // "queries" stays LAST: the driver keeps the TAIL of long stdout
    // lines, and bench_gate's regex salvage takes the last value per
    // query name — both favor the seconds map over the memory maps
    val line = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""peakMem":$pm,"spill":$sp,"sf":"$sfDir","failed":$failed,"queries":$qs}"""
    println(line)
    // Also land the JSON in a file: stdout goes through sbt's log framing,
    // which can wrap/prefix the line and break a machine parse.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $out failed: $e") }
    spark.stop()
  }
}
