package graft.tools

/** Plan dumper: for each named query, in ONE session, prints its
  * exchange / scan / cache-scan counts and writes them with the formatted
  * plan to `<outDir>/<query>_<tag>.txt` (unwrapped by any build-tool log
  * framing), one query or many — the plans/r15
  * evidence flow. One fixed session config for every dump (VERDICT r14
  * What's-wrong #2: before/after plan evidence must be captured under
  * identical cpus/shuffle.partitions — run with SPARK_GRAFT_CPUS=32).
  *
  * Usage: `runMain graft.tools.ExplainMany <tag> <outDir> <query>...`
  * Drill tooling, not part of the driver contract.
  */
object ExplainMany {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainMany <tag> <outDir> <query>...")
    val tag = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.GraftSession.local()
    args.drop(2).foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      def n(p: String) = p.r.findAllIn(plan).length
      val header = s"[$name] exchanges=${n("Exchange")} scans=${n("FileScan")} " +
        s"cacheScans=${n("InMemoryTableScan")}"
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(outDir.resolve(s"${name}_$tag.txt"),
        header + "\n" + formatted)
      println(header)
      graft.ops.OpCaches.releaseAll()
    }
    spark.stop()
  }
}
