package graft.tools

/** Per-query PHASE attribution: where does a bench second actually go?
  * For each named query (all registered when none given), measures over
  * a fresh plan:
  *
  *  - `build`  — the query constructor, which runs the eager jobs some
  *               operators start before the final action (IVF training,
  *               CC rounds, sketch and bloom builds);
  *  - `jobs`   — the number of jobs the constructor started;
  *  - `plan`   — analysis + optimization + physical planning of the built
  *               frame (Spark driver, single-threaded): time to force
  *               `executedPlan`;
  *  - `exec1`  — first noop write (incl. whole-stage codegen compile,
  *               which is lazy per stage);
  *  - `exec2`  — a Bench run of a FRESH identical query: build, plan and
  *               noop write with the compile cache warm (the
  *               generated-class cache is keyed by source);
  *  - `cgenMs` — delta of the global Janino compile-time counter
  *               (CodegenMetrics) across the whole query;
  *  - `cpuS`   — total task CPU seconds (executorCpuTime) of exec2's
  *               jobs — the real per-row work.
  *
  * SPARK_GRAFT_PROFILE_STAGES set prints exec2's completed stages.
  *
  * The first query named carries the JVM's first-query class loading
  * and JIT in its `build` (the warm-up absorbs session start-up only):
  * at sf0.1 on `local[4]`, q104 named first read `build` 7.5–7.9 s, and
  * 4.2 s when named after q65, with the same 36 jobs. Compare two runs
  * only with the same query order on both sides.
  *
  * Drill tooling for the optimization rounds, not part of the driver
  * contract. {{{ runMain graft.tools.PhaseProfile q133_web_curation }}}
  */
object PhaseProfile {
  private def clock[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    val probe = Probe(spark)
    def cgenTotalMs: Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
    // the warm-up's jobs absorb session start-up; no named query runs
    // before it is measured, so the first one's codegen is counted too
    NativeWarmup.warmup(spark)
    val names =
      if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    println(f"${"query"}%-34s ${"build"}%7s ${"jobs"}%5s ${"plan"}%7s " +
      f"${"exec1"}%7s ${"exec2"}%7s ${"cgenMs"}%7s ${"cpuS"}%7s")
    names.foreach { n =>
      def mk = graft.SparkEntry.queries(n)(spark, sfDir)
      val cg0 = cgenTotalMs
      val ((df1, build), built) = probe.measure(clock(mk))
      val (_, plan) = clock(df1.queryExecution.executedPlan)
      val exec1 = Probe.seconds(df1)
      val (exec2, run2) = probe.measure(Probe.seconds(mk))
      val cg1 = cgenTotalMs
      println(f"$n%-34s $build%7.2f ${built.jobs}%5d $plan%7.2f $exec1%7.2f " +
        f"$exec2%7.2f ${cg1 - cg0}%7d ${run2.cpuNs / 1e9}%7.2f")
      if (sys.env.contains("SPARK_GRAFT_PROFILE_STAGES"))
        run2.stages.foreach(s => println(f"    stage ${s.id}%4d tasks=${s.tasks}%4d " +
          f"wall=${s.wallMs / 1e3}%6.2fs cpu=${s.cpuNs / 1e9}%6.2fs " +
          f"run=${s.runMs / 1e3}%6.2fs  ${s.name}"))
    }
    spark.stop()
  }
}
