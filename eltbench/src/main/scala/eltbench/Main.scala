package eltbench

import java.io.File

/** One benchmark JVM.
  *
  * {{{
  *   eltbench.Main --mode setup --out result.json
  *   eltbench.Main --mode run --workload elt_day --seed 1 --timed 6 --trace 0 --work DIR --out result.json
  *   eltbench.Main --mode run --workload queries_mix --data DIR --digests TSV --seed 1 --timed 3 --trace 0 --out result.json
  *   eltbench.Main --mode digests --data DIR --digests TSV --work DIR --out result.json
  * }}}
  *
  * `setup` starts the engine session and stops: it is one sample of the
  * set-up time. `run` starts the session, generates the workload's inputs
  * from the seed (the ELT workloads) or reads `--data` (queries_mix), runs
  * it, and writes what it measured to `--out`; the spans of a traced run go
  * next to it as `<out>.spans.jsonl`. `digests` rewrites the queries_mix
  * digest table and dumps the outputs the DuckDB cross-check reads.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local()
    val now = java.time.Instant.now()
    val session = Session((System.nanoTime() - t0) / 1e9, now.getEpochSecond + now.getNano / 1e9)
    val out = new File(opt("out"))
    try {
      val res = opt("mode") match {
        case "setup" => new Result
        case "digests" =>
          QueriesBench.writeDigests(spark, opt("data"), new File(opt("digests")), new File(opt("work")))
          new Result
        case "run" =>
          val workload = opt("workload")
          val (seed, timed) = (opt("seed").toLong, opt("timed").toInt)
          val traced = opt.get("trace").contains("1")
          val spans = new File(out.getPath + ".spans.jsonl")
          if (EltBench.workloads.contains(workload))
            EltBench.run(spark, session, workload, seed, timed, traced, new File(opt("work")), spans)
          else if (workload == "queries_mix")
            QueriesBench.run(spark, session, opt("data"), seed, timed, traced,
              new File(opt("digests")), spans)
          else sys.error(s"unknown workload $workload")
      }
      java.nio.file.Files.write(out.toPath, res.toJson(session).getBytes("UTF-8"))
    } finally spark.stop()
  }
}
