package graft.functions

import graft.GraftSession
import graft.etl.Zones
import graft.ops.CorpusStats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws for the Misra–Gries heavy-hitters summary. The q131 oracle
  * hash-checks the exact regime on the corpus; this spec pins the
  * APPROXIMATE-regime guarantees — the ones that must hold for any
  * partitioning and merge order — on an adversarially skewed stream. */
class MisraGriesSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  import spark.implicits._

  // skewed synthetic stream: two giants, a midfield, a long tail
  private val trueCounts: Map[String, Long] =
    Map("alpha" -> 1000L, "beta" -> 500L, "gamma" -> 120L) ++
      (1 to 50).map(i => s"tail$i" -> 5L).toMap
  private val n: Long = trueCounts.values.sum

  private def stream(parts: Int, seed: Long): org.apache.spark.sql.DataFrame = {
    val toks = trueCounts.toSeq.flatMap { case (t, c) => Seq.fill(c.toInt)(t) }
    val shuffled = new scala.util.Random(seed).shuffle(toks)
    shuffled.toDF("text").repartition(parts)
  }

  private def summarize(df: org.apache.spark.sql.DataFrame, k: Int): Map[String, Long] =
    CorpusStats.heavyHitters(df, "text", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("exact regime (k >= distinct): equals the true counts under any partitioning") {
    for (parts <- Seq(1, 7, 32)) {
      val est = summarize(stream(parts, seed = parts), k = 64)
      assert(est == trueCounts, s"parts=$parts")
    }
  }

  test("cross-run roll-up: persisted per-group summaries merge to the one-pass result") {
    // the q136 seam end-to-end at law level: per-day summaries ->
    // zone hand-off -> MisraGriesAggregator roll-up. Exact
    // regime: equals BOTH the true counts and the single-pass summary.
    val df = stream(parts = 8, seed = 3)
      .withColumn("day", pmod(monotonically_increasing_id(), lit(4L)))
    val path = java.nio.file.Files
      .createTempDirectory("mg_state").toString + "/state"
    val rolled = CorpusStats.heavyHittersRollup(Zones.materialize(
        CorpusStats.heavyHittersByGroup(df, "text", "day", 64), path), "summary", 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled == trueCounts)
    assert(rolled == summarize(stream(8, 3), 64))
    // approximate regime through the same seam: the composed bound holds
    val rolled4 = CorpusStats.heavyHittersRollup(Zones.materialize(
        CorpusStats.heavyHittersByGroup(df, "text", "day", 4), path), "summary", 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rolled4.foreach { case (t, est) =>
      assert(est <= trueCounts(t), s"$t over-counted: $est")
      assert(trueCounts(t) - est <= n / 5, s"$t undercount past N/(k+1)")
    }
    assert(rolled4.contains("alpha") && rolled4.contains("beta"),
      "tokens with true count > N/(k+1) must survive the roll-up")
  }

  test("streaming twin: accumulated window summaries roll up to the batch result") {
    // heavyHittersStream groups by event-time window and emits one MG
    // summary per window; rolling those up with the merge aggregator
    // must equal the batch one-pass summary in the exact regime — the
    // q136 state story with windows as the "runs".
    val base = stream(parts = 4, seed = 11)
      .withColumn("event_time", timestamp_seconds(
        lit(1767225600L) + pmod(monotonically_increasing_id(), lit(3L)) * 3600L))
    // run the streaming aggregation logic as the batch analog (the
    // StreamingSpec convention: same expression chain, batch execution)
    val windows = base
      .select(col("event_time"),
        explode(graft.ops.TextOps.tokens(col("text"))).as("tok"))
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(CorpusStats.heavyHittersAgg(col("tok"), 64).as("summary"))
    assert(windows.count() == 3) // three distinct hourly windows
    val rolled = CorpusStats.heavyHittersRollup(windows, "summary", 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled == trueCounts)
  }

  test("approximate regime: never over-counts, bounded undercount, heavies always present") {
    for ((parts, seed) <- Seq((1, 1L), (8, 2L), (32, 3L))) {
      val k = 4
      val est = summarize(stream(parts, seed), k)
      assert(est.size <= k, s"summary exceeded capacity: ${est.size}")
      // est <= true for every tracked token
      est.foreach { case (t, e) =>
        assert(e <= trueCounts(t), s"over-count of $t: $e > ${trueCounts(t)}")
      }
      // every token with true > N/(k+1) is tracked, with undercount <= N/(k+1)
      val bound = n / (k + 1)
      trueCounts.filter(_._2 > bound).foreach { case (t, c) =>
        assert(est.contains(t), s"heavy token $t missing (parts=$parts)")
        assert(est(t) >= c - bound,
          s"undercount of $t beyond N/(k+1): ${est(t)} < ${c - bound}")
      }
    }
  }

  test("merge: over-capacity union subtracts the (k+1)-st count and caps at k") {
    val agg = new MisraGriesAggregator(2)
    val merged = agg.merge(Map("a" -> 10L, "b" -> 4L), Map("c" -> 6L, "d" -> 1L))
    // counts sorted: 10, 6, 4, 1 -> threshold (k+1)-st = 4
    assert(merged == Map("a" -> 6L, "c" -> 2L))
    // within capacity: plain sum
    assert(agg.merge(Map("a" -> 3L), Map("a" -> 2L, "b" -> 1L)) ==
      Map("a" -> 5L, "b" -> 1L))
  }

  test("reduce: decrement path drops zeros and never inserts the overflow token") {
    val agg = new MisraGriesAggregator(2)
    val full = Map("a" -> 3L, "b" -> 1L)
    val after = agg.reduce(full, "c")
    assert(after == Map("a" -> 2L))
    assert(agg.reduce(after, "c") == Map("a" -> 2L, "c" -> 1L))
  }

  test("roll-up: a null summary is the identity") {
    val s = Map("alpha" -> 3L, "beta" -> 1L)
    val rolled = Seq(Some(s), None).toDF("summary")
      .agg(CorpusStats.heavyHittersMerge(col("summary"), 4))
      .head().getMap[String, Long](0).toMap
    assert(rolled == s)
  }
}
