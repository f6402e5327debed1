package graft

import graft.ops.OpCaches
import graft.tools.Probe
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  /** A query with one shuffle: a map stage and a result stage. */
  def shuffled = spark.range(0, 20000, 1, 4).groupBy(col("id") % 7).count()

  test("Bench's JSON line: key order, \"queries\" last, a failed query named " +
      "and left out of the total") {
    val ok = Bench.line("/sf", Seq(Bench.Result("q01_a", 1.5, 1024, 0)))
    assert(ok == """{"metric":"total","value":1.5,"unit":"sec",""" +
      """"peakMem":{"q01_a":1024},"spill":{"q01_a":0},"sf":"/sf",""" +
      """"failed":[],"queries":{"q01_a":1.5}}""")
    val withFailure = Bench.line("/sf", Seq(
      Bench.Result("q01_a", 1.5, 1024, 0),
      Bench.Result("q02_b", -1.0, 2048, 512),
      Bench.Result("q03_c", 0.25, 0, 0)))
    assert(withFailure == """{"metric":"total","value":1.75,"unit":"sec",""" +
      """"peakMem":{"q01_a":1024,"q02_b":2048,"q03_c":0},""" +
      """"spill":{"q01_a":0,"q02_b":512,"q03_c":0},"sf":"/sf",""" +
      """"failed":["q02_b"],"queries":{"q01_a":1.5,"q02_b":-1.0,"q03_c":0.25}}""")
  }

  test("a probe per SparkContext, and fresh plans: two forced runs of one " +
      "shuffle query run the same tasks, a reused Dataset skips its map stage") {
    val probe = Probe(spark)
    assert(Probe(spark) eq probe)
    val (_, a) = probe.measure(Probe.force(shuffled))
    val (_, b) = probe.measure(Probe.force(shuffled))
    assert(a.tasks > 4 && a.tasks == b.tasks, s"$a vs $b")
    assert(a.stages.size == b.stages.size && a.stages.size >= 2)
    // the trap a by-name frame avoids: the second collect of ONE Dataset
    // reuses its executed plan, and the completed shuffle map stage is skipped
    val reused = shuffled
    val (_, c1) = probe.measure(reused.collect())
    val (_, c2) = probe.measure(reused.collect())
    assert(c2.tasks < c1.tasks, s"$c1 vs $c2")
  }

  test("a forced run releases its operator caches, and measure reads its " +
      "own body's counters only") {
    val probe = Probe(spark)
    def small = spark.range(0, 100, 1, 1).toDF()
    def big = {
      val cached = OpCaches.persist(spark.range(0, 20000, 1, 4).toDF())
      assert(OpCaches.registeredCount >= 1)
      cached.groupBy(col("id") % 7).count()
    }
    val (_, s1) = probe.measure(Probe.force(small))
    val (_, b) = probe.measure(Probe.force(big))
    assert(OpCaches.registeredCount == 0)
    assert(b.tasks > s1.tasks && b.peakMem > 0, s"$b")
    // a run outside any measure whose events are still queued when the
    // next measure starts (a slow listener on the same bus holds them
    // back) must not land in that measure's counters
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(50)
    }
    spark.sparkContext.addSparkListener(slow)
    val (_, s2) = try {
      Probe.force(big)
      assert(OpCaches.registeredCount == 0)
      probe.measure(Probe.force(small))
    } finally spark.sparkContext.removeSparkListener(slow)
    def work(c: Probe.Counters) = (c.jobs, c.tasks, c.peakMem, c.spill, c.stages.size)
    assert(work(s2) == work(s1), s"$s1 vs $s2")
    assert(s1.tasks == 1)
  }

  test("shuffle bytes: a groupBy writes some, a map-only frame writes none") {
    val probe = Probe(spark)
    val (_, grouped) = probe.measure(Probe.force(shuffled))
    val (_, mapOnly) = probe.measure(
      Probe.force(spark.range(0, 20000, 1, 4).select(col("id") * 2)))
    assert(grouped.shuffleBytes > 0, s"$grouped")
    assert(mapOnly.shuffleBytes == 0 && mapOnly.tasks > 0, s"$mapOnly")
  }
}
