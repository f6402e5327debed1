package graft.ops

import graft.GraftSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SpreadSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  /** Counts Spark jobs started while `body` runs — the df.rdd hazard
    * this spec pins is "deciding whether to spread EXECUTES stages". */
  private def jobsDuring[A](body: => A): (A, Long) = {
    val (a, counters) = graft.tools.Probe(spark).measure(body)
    (a, counters.jobs)
  }

  test("toCores spreads a narrow single-row-group scan to the core count") {
    docs.schema // force the reader's footer job outside the counted window
    val (out, jobs) = jobsDuring(Spread.toCores(docs.select("doc_id")))
    assert(jobs == 0, "planning-only decision must not run a job")
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(out.count() == docs.count())
  }

  test("toCores is a planning-only NO-OP on a shuffled input") {
    val agg = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val (out, jobs) = jobsDuring(Spread.toCores(agg))
    assert(jobs == 0, "df.rdd under AQE would have executed the shuffle here")
    assert(out eq agg, "exchange already governs parallelism; no extra shuffle")
  }

  test("toCoresCached persists the spread layout (the pushdown barrier) " +
      "and stays identity when nothing fires") {
    val before = OpCaches.registeredCount
    val out = Spread.toCoresCached(docs.select("doc_id", "lang"))
    assert(OpCaches.registeredCount == before + 1,
      "spread fired: the widened frame must be registered for releaseAll")
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // derived-column filters now plan AGAINST the cache, not below it:
    // the only scan in a consumer's plan is the in-memory one
    val consumer = out.filter(length(col("lang")) >= 0)
    val plan = consumer.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"))
    assert(consumer.count() == docs.count())
    OpCaches.releaseAll()
    // shuffled input: toCores no-ops, so no cache is registered either
    val agg = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    assert(Spread.toCoresCached(agg) eq agg)
    assert(OpCaches.registeredCount == 0)
  }

  test("toCores sums union legs and skips already-wide plans") {
    val u = docs.select("doc_id").unionByName(docs.select("doc_id"))
    val wide = Spread.toCores(u) // 2 legs < cores: spreads
    assert(wide.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val already = wide.localCheckpoint()
    // cached/non-scan leaves are assumed wide: conservative no-op
    assert(Spread.toCores(already) eq already)
  }
}
