package eltbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The read side beside the two ELT workloads: a fixed mix of registered
  * queries (`SparkEntry.queries`) over a read-only star-schema directory,
  * each forced with a `noop` write. No zone writes.
  *
  * One operation is one query: `SparkEntry.queries(name)(spark, dir)`
  * (build, which includes the eager pre-jobs), `queryExecution.executedPlan`
  * (plan) and the `noop` write (exec). A pass runs every query of the mix
  * once, in an order drawn from the seed; the seed changes nothing else.
  */
object QueriesBench {

  val Mix: Seq[String] = Seq("q01_agg", "q03_join_dims", "q06_window_rank", "q12_cube",
    "q36_regional_revenue", "q50_range_join", "q30_sessionize", "q117_gap_quantiles",
    "q65_neardup_groups", "q104_semdedup_ivf", "q75_bpe_train",
    "q144_incremental_images_near", "q85_dd_quantile", "q47_approx_distinct",
    "q46_fingerprint", "q133_web_curation", "q95_jaccard_join")

  val Warmup = 1

  /** Digest table of the mix over the reference data: name, rows, hash. */
  def readDigests(f: File): Map[String, (Long, BigDecimal)] =
    if (!f.exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#"))
        .map(_.split('\t')).map(a => a(0) -> ((a(1).toLong, BigDecimal(a(2))))).toMap
      finally src.close()
    }

  private def codegenMs: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot
      .getValues.sum.toDouble

  def run(spark: SparkSession, session: Session, dir: String, seed: Long, timedPasses: Int,
      traced: Boolean, digestFile: File, spansOut: File): Result = {
    val sc = spark.sparkContext
    val probe = new Probe(sc)
    val tracer = new Tracer
    val res = new Result
    val missing = Mix.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not registered: ${missing.mkString(", ")}")
    res.note(s"data: $dir, ${Mix.length} queries per pass")

    def reset(): Unit = {
      res.releaseS += Release.all(sc)
      System.gc()
      probe.drain()
    }

    /** One query; None if it threw. Traced: spans and job groups per phase. */
    def query(name: String, op: String, isTraced: Boolean): Option[Double] = {
      reset()
      res.attempt(if (isTraced) "traced" else "query") {
        if (!isTraced) EltBench.seconds(
          SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save())
        else {
          def phase[T](p: String)(body: => T): T = Probe.inGroup(sc, s"$op/$p") {
            tracer.span(s"queries.$p", op, Some("queries.op"))(body)
          }
          val cg0 = codegenMs
          val s = EltBench.seconds(tracer.span("queries.op", op) {
            val df = phase("build")(SparkEntry.queries(name)(spark, dir))
            phase("plan")(df.queryExecution.executedPlan)
            phase("exec")(df.write.format("noop").mode("overwrite").save())
          })
          probe.drain()
          res.layers += layerMetrics(op, probe, tracer, (codegenMs - cg0) / 1e3)
          s
        }
      }
    }

    /** One pass over the mix in the seed's order for this pass. */
    def pass(no: Int, isTraced: Boolean): Seq[Option[Double]] = {
      val order = new scala.util.Random(seed * 1000003L + no).shuffle(Mix)
      order.map(n => query(n, s"p$no/$n", isTraced))
    }
    def total(xs: Seq[Option[Double]]): Option[Double] =
      if (xs.forall(_.isDefined)) Some(xs.flatten.sum) else None

    val cold = total(pass(0, isTraced = false))
    (1 to Warmup).foreach(i => pass(i, isTraced = false))
    val order = EltBench.interleave(timedPasses, traced)
    val passes = order.zipWithIndex.map { case (t, i) => t -> pass(Warmup + 1 + i, t) }
    val untraced = passes.collect { case (false, qs) => qs }
    val tracedPasses = passes.collect { case (true, qs) => qs }

    // Outside the timers: every output against the digest table.
    val want = readDigests(digestFile)
    reset()
    res.attempt("check:digests")(EltBench.seconds(checkDigests(spark, dir, want, res)))

    val samples = Stats.samples(untraced.flatten)
    val p50 = Stats.p50(samples)
    val tail = Stats.tail(samples)
    res.metric("cold_batch_s", "s", Stats.samples(Seq(cold)).head, 1,
      "first pass over the mix in a fresh JVM")
    val batches = Stats.samples(untraced.map(total))
    res.metric("batch_s", "s", Stats.median(batches), batches.length,
      s"median pass over the mix after $Warmup warm-up pass")
    res.metric("query_p50_s", "s", p50.value, p50.n, "p50 of per-query latency, timed passes")
    res.metric("query_tail_s", "s", tail.value, tail.n,
      f"p${tail.percentile}%.1f of the same samples (at least 10 beyond it, else the p50)")
    val all = probe.total(_ != EltBench.CheckGroup)
    res.metric("peak_exec_mem_mb", "MB", all.peakMem / 1e6, all.tasks.toInt,
      "max task peakExecutionMemory over every pass")
    if (traced) {
      // per traced pass: each layer metric summed over the mix (a peak: the max)
      val perPass = res.layers.toSeq.grouped(Mix.length).map(qs =>
        qs.head.map { case (k, (_, unit)) =>
          val vs = qs.map(_(k)._1)
          k -> ((if (k.contains("peak")) vs.max else vs.sum, unit))
        }).toSeq
      res.traceMetrics(perPass, session, untraced.map(total), tracedPasses.map(total))
      tracer.writeJsonLines(spansOut)
    }
    res
  }

  private def layerMetrics(op: String, probe: Probe, tr: Tracer, codegenS: Double)
      : Map[String, (Double, String)] =
    SparkLayer.metrics(probe.total(_.startsWith(s"$op/")), tr.seconds(op, "queries.op")) ++ Map(
      "queries.build_s" -> ((tr.seconds(op, "queries.build"), "s")),
      "queries.plan_s" -> ((tr.seconds(op, "queries.plan"), "s")),
      "queries.exec_s" -> ((tr.seconds(op, "queries.exec"), "s")),
      "queries.codegen_s" -> ((codegenS, "s")),
      // jobs started while the query was being built: the eager pre-jobs
      "queries.eager_jobs" -> ((probe.total(_ == s"$op/build").jobs.toDouble, "count")))

  private def checkDigests(spark: SparkSession, dir: String, want: Map[String, (Long, BigDecimal)],
      res: Result): Unit = {
    Probe.inGroup(spark.sparkContext, EltBench.CheckGroup)(Mix.foreach { n =>
      val got = EltBench.digests(Map(n -> SparkEntry.queries(n)(spark, dir)))(n)
      graft.ops.OpCaches.releaseAll()
      res.check(s"$n output matches the digest table", want.get(n).contains(got),
        s"got $got, want ${want.get(n).map(_.toString).getOrElse("no entry")}")
    })
  }

  /** Write the digest table of the mix over `dir`, and for every query with
    * a DuckDB oracle its output as parquet under `out/<name>` plus
    * `out/oracle_sql.json`, for the oracle cross-check in run.py. */
  def writeDigests(spark: SparkSession, dir: String, table: File, out: File): Unit = {
    val rows = Mix.map { n =>
      val df: DataFrame = SparkEntry.queries(n)(spark, dir)
      val (r, h) = EltBench.digests(Map(n -> df))(n)
      SparkEntry.oracleSql.get(n).foreach(_ =>
        df.write.mode("overwrite").parquet(new File(out, n).getAbsolutePath))
      graft.ops.OpCaches.releaseAll()
      s"$n\t$r\t$h"
    }
    val sql = Mix.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> Json.str(_)))
    java.nio.file.Files.write(new File(out, "oracle_sql.json").toPath,
      Json.obj(sql).getBytes("UTF-8"))
    java.nio.file.Files.write(table.toPath,
      ("# query\trows\tsum of xxhash64 over all columns (see EltBench.digests)\n" +
        rows.mkString("", "\n", "\n")).getBytes("UTF-8"))
  }
}
