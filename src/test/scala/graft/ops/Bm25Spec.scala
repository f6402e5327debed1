package graft.ops

import graft.GraftSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** BM25 ranking laws — tf monotonicity, idf (rare terms dominate),
  * length normalization, zero-match zero score — plus the scale
  * contracts: model is one collected row, scoring is a map-only plan
  * ending in TakeOrderedAndProject, and the whole ranking is
  * deterministic. */
class Bm25Spec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  import spark.implicits._

  private def score(docs: Seq[(Long, String)], terms: Seq[String]) = {
    val df = docs.toDF("doc_id", "text")
    val m = Bm25.fit(df, "text", terms)
    Bm25.topK(df, "doc_id", "text", m, docs.size)
      .as[(Long, Long)].collect().toMap
  }

  test("tf monotonicity: more query-term occurrences, higher score") {
    // equal doc length so length norm cancels
    val s = score(Seq(
      (1L, "apple pear pear pear pear pear"),
      (2L, "apple apple pear pear pear pear"),
      (3L, "apple apple apple pear pear pear")), Seq("apple"))
    assert(s(3L) > s(2L) && s(2L) > s(1L), s)
  }

  test("idf: matching a rare term outscores matching a common term") {
    val corpus = Seq(
      (1L, "rare filler filler filler"),
      (2L, "common filler filler filler")) ++
      (3L until 20L).map(i => (i, "common filler filler filler"))
    val s = score(corpus, Seq("rare", "common"))
    assert(s(1L) > s(2L), s)
  }

  test("length normalization: same tf, shorter document wins") {
    val s = score(Seq(
      (1L, "apple filler filler filler"),
      (2L, "apple filler filler filler filler filler filler filler")),
      Seq("apple"))
    assert(s(1L) > s(2L), s)
  }

  test("documents with no query term score exactly 0") {
    val s = score(Seq(
      (1L, "apple pear"),
      (2L, "filler words only here")), Seq("apple"))
    assert(s(2L) == 0L, s)
  }

  test("deterministic: refit + rescore is identical") {
    val docs = (0L until 50L).map(i =>
      (i, Seq.fill((i % 7).toInt + 1)(s"w${i % 5}").mkString(" ")))
    def run() = score(docs, Seq("w0", "w3")).toSeq.sorted
    assert(run() == run())
  }

  test("scoring plan is map-only: TakeOrderedAndProject, no Exchange") {
    val df = (0L until 20L).map(i => (i, s"apple pear w$i")).toDF("doc_id", "text")
    val m = Bm25.fit(df, "text", Seq("apple", "pear"))
    val plan = Bm25.topK(df, "doc_id", "text", m, 5)
      .queryExecution.executedPlan
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children ++ p.subqueries).flatMap(nodes)
    val names = nodes(plan).map(_.nodeName)
    assert(names.exists(_.contains("TakeOrderedAndProject")), names)
    assert(!names.exists(_.contains("Exchange")), names)
  }
}
