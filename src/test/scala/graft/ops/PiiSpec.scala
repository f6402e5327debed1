package graft.ops

import graft.GraftSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multi-class PII scrub and normalized-dedup contracts:
  *  - the scrub chain attributes every span to exactly ONE class (an
  *    IPv4-shaped email local-part is an email, not an IP);
  *  - counts are counted on the text each class actually sees;
  *  - word boundaries keep long ids / version strings unredacted;
  *  - normalizeText is idempotent and case/punct/space-insensitive;
  *  - exactDedupNormalized keeps exactly the min-id row per normalized
  *    group; duplicateWeights gives each group total weight ≈ 1 (ppm).
  */
class PiiSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  import spark.implicits._

  test("scrub chain: one class per span, chain-order counts") {
    val df = Seq(
      (1L, "ping 1.2.3.4@example.com and 10.0.0.1"),
      (2L, "call 555-123-4567 or 555 123 4567"),
      (3L, "order 123456789012 version 1.2.3 ok"),
      (4L, "clean text with no pii at all")).toDF("id", "text")
    val out = Pii.scrub(df, "text").orderBy("id")
      .select("id", "n_email", "n_phone", "n_ip", "text_scrubbed")
      .as[(Long, Long, Long, Long, String)].collect()
    // row 1: the dotted-quad local part belongs to the EMAIL match — a
    // naive independent per-class count would call it an IP too
    assert(out(0) == ((1L, 1L, 0L, 1L, "ping [EMAIL] and [IP]")))
    assert(out(1) == ((2L, 0L, 2L, 0L, "call [PHONE] or [PHONE]")))
    // long digit runs and 3-part versions match nothing
    assert(out(2) == ((3L, 0L, 0L, 0L, "order 123456789012 version 1.2.3 ok")))
    assert(out(3) == ((4L, 0L, 0L, 0L, "clean text with no pii at all")))
  }

  test("audit: per-group totals and redacted-char accounting") {
    val df = Seq(
      ("a", "mail me at bob@site.org"),
      ("a", "no pii here"),
      ("b", "two mails x@y.io and z@w.co plus 9.9.9.9")).toDF("src", "text")
    val row = Pii.audit(df, "src", "text").orderBy("src").collect()
    assert(row(0).getAs[Long]("n_docs") == 2)
    assert(row(0).getAs[Long]("emails") == 1)
    assert(row(0).getAs[Long]("docs_with_pii") == 1)
    // "bob@site.org" (12 chars) -> "[EMAIL]" (7): 5 chars removed
    assert(row(0).getAs[Long]("chars_delta") == 5)
    assert(row(1).getAs[Long]("emails") == 2)
    assert(row(1).getAs[Long]("ips") == 1)
    assert(row(1).getAs[Long]("docs_with_pii") == 1)
  }

  test("chars_delta is a SIGNED length delta: negative when tokens outgrow matches") {
    // "x@y.io" (6) -> "[EMAIL]" (7) and "9.9.9.9" (7) -> "[IP]" (4):
    // per-group delta = (6-7) + (7-4) on one doc each — the raw-delta
    // contract (no clamp) pinned per the r10 verdict's naming fix
    val df = Seq(("a", "x@y.io"), ("b", "9.9.9.9")).toDF("src", "text")
    val rows = Pii.audit(df, "src", "text").orderBy("src").collect()
    assert(rows(0).getAs[Long]("chars_delta") == -1L,
      "replacement longer than match must yield a NEGATIVE delta")
    assert(rows(1).getAs[Long]("chars_delta") == 3L)
  }

  test("broadened phone pattern: all NANP renderings, boundaries hold") {
    val df = Seq(
      (1L, "call 555-123-4567 now"),
      (2L, "call 555 123 4567 now"),
      (3L, "call 555.123.4567 now"),
      (4L, "call (555) 123-4567 now"),
      (5L, "call (555)123-4567 now"),
      (6L, "call +1 555 123 4567 now"),
      (7L, "call +1-555-123-4567 now"),
      (8L, "call +1 (555) 123-4567 now"),
      // non-matches: long digit runs, versions, IPv4s, 3-3-5 shapes
      (9L, "order 1234-567-8901 v1.2.3 ip 10.20.30.40 x 555-123-45678"))
      .toDF("id", "text")
    val out = Pii.scrub(df, "text").orderBy("id")
      .select("id", "n_phone", "text_scrubbed")
      .as[(Long, Long, String)].collect()
    out.take(8).foreach { case (id, n, t) =>
      assert(n == 1L && t == "call [PHONE] now", s"row $id: n=$n t=$t")
    }
    assert(out(8)._2 == 0L, s"false positive: ${out(8)._3}")
    // the IPv4 stays for the ip class (chain order), long runs untouched
    assert(out(8)._3 == "order 1234-567-8901 v1.2.3 ip [IP] x 555-123-45678")
  }

  test("phone pattern: ddd.ddd.dddd numerics ARE redacted (pinned over-redaction)") {
    // The dotted triple is a genuine NANP rendering, so a 3-3-4-grouped
    // metric/ID is indistinguishable from a phone — the scaladoc's
    // documented over-redaction class. Mixed separators likewise (the
    // separator classes are independent; RE2 has no backreferences).
    val df = Seq(
      (1L, "reading 123.456.7890 logged"), // 3-3-4 dotted numeric
      (2L, "call 555.123 4567 now"),       // mixed separators
      // and the shapes that stay OUT: 3-3-3, 2-3-4, trailing digit run
      (3L, "v 123.456.789 id 12.345.6789 run 123.456.78901"))
      .toDF("id", "text")
    val out = Pii.scrub(df, "text").orderBy("id")
      .select("id", "n_phone", "text_scrubbed")
      .as[(Long, Long, String)].collect()
    assert(out(0)._2 == 1L && out(0)._3 == "reading [PHONE] logged")
    assert(out(1)._2 == 1L && out(1)._3 == "call [PHONE] now")
    assert(out(2)._2 == 0L, s"unexpected match: ${out(2)._3}")
  }

  test("normalizeText: idempotent, case/punct/space-insensitive") {
    val df = Seq(
      ("Hello,  World!!", "hello world"),
      ("  spaced   out  ", "spaced out"),
      ("MiXeD-case_and.punct", "mixed case and punct"),
      ("", "")).toDF("raw", "expected")
    val got = df.select(TextOps.normalizeText(col("raw")).as("n"),
      col("expected"),
      TextOps.normalizeText(TextOps.normalizeText(col("raw"))).as("nn"))
      .collect()
    got.foreach { r =>
      assert(r.getString(0) == r.getString(1), s"normalize mismatch: $r")
      assert(r.getString(0) == r.getString(2), s"not idempotent: $r")
    }
  }

  test("exactDedupNormalized keeps exactly the min-id row per norm group") {
    val df = Seq(
      (10L, "The quick fox"),
      (11L, "the QUICK fox!!"),   // mutant of 10
      (12L, "the quick  fox"),    // mutant of 10
      (20L, "something else")).toDF("doc_id", "text")
    val out = Dedup.exactDedupNormalized(df, "text", "doc_id")
    assert(out.count() == 4) // all rows survive, marked
    val kept = out.filter(col("keep")).select("doc_id")
      .as[Long].collect().sorted
    assert(kept.sameElements(Array(10L, 20L)))
    assert(out.filter(col("doc_id") === 11L).head().getAs[Long]("n_copies") == 3)
  }

  test("dedupKey: empty normalized form falls back to RAW text (non-Latin guard)") {
    // three unrelated non-Latin/symbol documents all normalize to '' —
    // they must NOT share a dedup key (the silent-destruction bug class)
    val df = Seq(
      (1L, "火车站在哪里"),      // CJK
      (2L, "Привет, мир!"),      // Cyrillic
      (3L, "!!! ***"),           // symbols
      (4L, "!!! ***"),           // raw-exact duplicate of 3 — SAME key
      (5L, "plain latin text")).toDF("doc_id", "text")
    val keys = df.select(col("doc_id"), TextOps.dedupKey(col("text")).as("k"))
      .as[(Long, String)].collect().toMap
    assert(keys(1) != keys(2) && keys(2) != keys(3) && keys(1) != keys(3),
      "unrelated non-Latin docs collapsed onto one dedup key")
    assert(keys(3) == keys(4), "raw-exact duplicates must still share a key")
    assert(keys(5) == "plain latin text")
    val marked = Dedup.exactDedupNormalized(df, "text", "doc_id")
    assert(marked.filter(col("keep")).count() == 4) // only 4 drops to 3
  }

  test("fingerprint variant ≡ exact variant on mutant + non-Latin fixtures") {
    // the q123/q126 fixture family: originals, case/punct mutant twins,
    // empty-normalizing '!'-runs, CJK — group structure must be identical
    val df = Seq(
      (10L, "The quick fox"), (11L, "the QUICK fox!!"), (12L, "the quick  fox"),
      (20L, "something else"),
      (30L, "!"), (31L, "!!"), (32L, "!"),
      (40L, "火车站在哪里"), (41L, "火车站在哪里"), (42L, "东京天气很好"))
      .toDF("doc_id", "text")
    val exact = Dedup.exactDedupNormalized(df, "text", "doc_id")
      .select("doc_id", "keep", "n_copies")
      .as[(Long, Boolean, Long)].collect().sortBy(_._1)
    val fp = Dedup.exactDedupNormalizedByFingerprint(df, "text", "doc_id")
      .select("doc_id", "keep", "n_copies")
      .as[(Long, Boolean, Long)].collect().sortBy(_._1)
    assert(exact.sameElements(fp),
      s"fingerprint/exact divergence:\n${exact.mkString("\n")}\nvs\n${fp.mkString("\n")}")
    // sanity on the structure itself: 30/32 pair, 40/41 pair, rest singles
    val m = exact.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(30L) == ((true, 2L)) && m(32L) == ((false, 2L)))
    assert(m(31L) == ((true, 1L)))
    assert(m(40L) == ((true, 2L)) && m(41L) == ((false, 2L)) && m(42L) == ((true, 1L)))
  }

  test("per-group dedup: cross-language twins survive, within-language mutants drop") {
    val df = Seq(
      (1L, "en", "the quick fox"),
      (2L, "en", "The QUICK fox!!"),   // en mutant of 1 — drops
      (3L, "de", "the quick fox"),     // same text, OTHER language — keeps
      (4L, "de", "etwas anderes"),
      (5L, "en", "火车站在哪里"),       // empty-normalizing, en
      (6L, "de", "火车站在哪里"))       // same raw text, de — keeps (group differs)
      .toDF("doc_id", "lang", "text")
    val out = Dedup.exactDedupNormalizedPerGroup(df, "text", "doc_id", "lang")
    val m = out.select("doc_id", "keep", "n_copies")
      .as[(Long, Boolean, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(1L) == ((true, 2L)) && m(2L) == ((false, 2L)))
    assert(m(3L) == ((true, 1L)), "cross-language twin must survive")
    assert(m(5L) == ((true, 1L)) && m(6L) == ((true, 1L)),
      "non-Latin raw-key docs must not merge across languages")
    // fingerprint variant: identical group structure on the same fixtures
    val fp = Dedup.exactDedupNormalizedPerGroup(df, "text", "doc_id", "lang",
        byFingerprint = true)
      .select("doc_id", "keep", "n_copies")
      .as[(Long, Boolean, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(fp == m, s"fingerprint/exact divergence: $fp vs $m")
  }

  test("duplicateWeights byFingerprint ≡ exact weights") {
    val df = Seq(
      (1L, "dup text"), (2L, "DUP text"), (3L, "dup  text!"),
      (4L, "unique"), (5L, "火车站在哪里"), (6L, "东京天气很好"))
      .toDF("doc_id", "text")
    val a = Dedup.duplicateWeights(df, "text", "doc_id")
      .select("doc_id", "weight_ppm").as[(Long, Long)].collect().sortBy(_._1)
    val b = Dedup.duplicateWeights(df, "text", "doc_id", byFingerprint = true)
      .select("doc_id", "weight_ppm").as[(Long, Long)].collect().sortBy(_._1)
    assert(a.sameElements(b))
    assert(a.toMap.apply(5L) == 1000000L && a.toMap.apply(6L) == 1000000L,
      "non-Latin docs must be full-weight singletons, not a merged group")
  }

  test("duplicateWeights: each group's total weight ≈ 1 in exact ppm") {
    val df = Seq(
      (1L, "dup text"), (2L, "DUP text"), (3L, "dup  text!"),
      (4L, "unique")).toDF("doc_id", "text")
    val w = Dedup.duplicateWeights(df, "text", "doc_id")
    val dupW = w.filter(col("n_copies") === 3).select("weight_ppm")
      .as[Long].collect()
    assert(dupW.length == 3 && dupW.forall(_ == 333333L))
    assert(w.filter(col("doc_id") === 4L).head()
      .getAs[Long]("weight_ppm") == 1000000L)
    // group totals never exceed the budget (integer division floors)
    val sums = w.groupBy("n_copies").agg(sum("weight_ppm").as("s"))
      .select("s").as[Long].collect()
    assert(sums.forall(_ <= 1000000L))
  }
}
