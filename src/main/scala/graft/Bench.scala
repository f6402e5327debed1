package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall seconds and peak memory.
  *
  * Each query is built and forced by [[graft.tools.Probe.seconds]]: a
  * `noop`-format write, then the operator caches are released.
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
  /** One query: the min of its two runs' seconds (-1 when a run failed),
    * and the max task peak memory and the total spill over both runs. */
  final case class Result(name: String, secs: Double, peakMem: Long, spill: Long)

  /** The bench's one JSON line. A failed query reads -1 in "queries" and
    * is left out of the total: it is named in "failed", so a crash never
    * reads as a speed-up. "queries" stays LAST: the bench's consumer
    * keeps the TAIL of long stdout lines, and bench_gate's regex salvage
    * takes the last value per query name — both favor the seconds map
    * over the memory maps. */
  def line(sfDir: String, results: Seq[Result]): String = {
    def obj(f: Result => String): String =
      results.map(r => "\"" + r.name + "\":" + f(r)).mkString("{", ",", "}")
    val total = results.map(_.secs).filter(_ >= 0).sum
    val failed = results.filter(_.secs < 0).map("\"" + _.name + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""peakMem":${obj(_.peakMem.toString)},"spill":${obj(_.spill.toString)},""" +
      s""""sf":"$sfDir","failed":$failed,"queries":${obj(_.secs.toString)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val probe = graft.tools.Probe(spark)
    def run(name: String): Double =
      try graft.tools.Probe.seconds(SparkEntry.queries(name)(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
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
    names.headOption.foreach(run)
    // min of two runs per query: second run benefits from JIT-warmed
    // codegen paths, min filters one-off GC/compilation noise
    val results = names.map { n =>
      val ((a, b), c) = probe.measure((run(n), run(n)))
      Result(n, if (a < 0 || b < 0) -1.0 else math.min(a, b), c.peakMem, c.spill)
    }
    val out = line(sfDir, results)
    println(out)
    // Also land the JSON in a file: stdout goes through sbt's log framing,
    // which can wrap/prefix the line and break a machine parse.
    val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), out + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $path failed: $e") }
    spark.stop()
  }
}
