package graft.ops

import graft.GraftSession
import graft.functions.NativeFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts for the iterative BPE merge trainer (q75) and its native
  * single-pass merge expression. */
class BpeSpec extends AnyFunSuite {

  lazy val spark = {
    val s = GraftSession.builder("4").getOrCreate()
    NativeFunctions.register(s)
    s
  }
  import spark.implicits._

  private def mergeOne(toks: Seq[String], a: String, b: String): Seq[String] =
    Seq(Tuple1(toks)).toDF("toks")
      .select(NativeFunctions.graft_bpe_merge(col("toks"), a, b).as("m"))
      .head().getSeq[String](0)

  test("bpeMerge: plain non-overlapping merge") {
    assert(mergeOne(Seq("a", "b", "c", "a", "b"), "a", "b") ==
      Seq("a b", "c", "a b"))
  }

  test("bpeMerge: greedy left-to-right on runs of identical tokens") {
    // "x x x" merging (x,x): first pair consumes positions 0-1, the
    // remaining lone x stays — NOT ["x", "x x"].
    assert(mergeOne(Seq("x", "x", "x"), "x", "x") == Seq("x x", "x"))
    assert(mergeOne(Seq("x", "x", "x", "x"), "x", "x") == Seq("x x", "x x"))
    assert(mergeOne(Seq("x", "x", "x", "x", "x"), "x", "x") ==
      Seq("x x", "x x", "x"))
  }

  test("bpeMerge: no match / short arrays are identity") {
    assert(mergeOne(Seq("a", "b"), "b", "a") == Seq("a", "b"))
    assert(mergeOne(Seq("a"), "a", "a") == Seq("a"))
    assert(mergeOne(Seq.empty[String], "a", "b") == Seq.empty[String])
  }

  test("bpeMerge: merged tokens can merge again in a later round") {
    val r1 = mergeOne(Seq("a", "b", "c"), "a", "b")
    assert(r1 == Seq("a b", "c"))
    assert(mergeOne(r1, "a b", "c") == Seq("a b c"))
  }

  test("bpeTrain: known tiny corpus — pair choice, counts, token law") {
    val docs = Seq(
      (1L, "a b a b c"),
      (2L, "a b d"),
      (3L, "c d")).toDF("doc_id", "text")
    // round 1: (a,b) appears 3 times — the unambiguous top pair.
    // 10 tokens total, 3 merges → 7 tokens after.
    val out = CorpusStats.bpeTrain(docs, "text", 2)
      .orderBy("round").collect()
    assert(out.length == 2)
    assert(out(0).getString(1) == "a b" && out(0).getLong(2) == 3L &&
      out(0).getLong(3) == 7L)
    // round 2 ties at cnt=1 break by (l, r) ascending: tokens now
    // {a b, a b, c / a b, d / c, d} → pairs (ab,ab)? no — adjacent pairs
    // are ("a b","a b")x1? doc1 = [a b, a b, c]: ("a b","a b"),("a b",c);
    // doc2 = [a b, d]; doc3 = [c, d]. All cnt=1 → lexicographic min
    // ("a b","a b") wins (space sorts below letters).
    assert(out(1).getLong(2) == 1L)
    val nBefore = out(0).getLong(3)
    assert(out(1).getLong(3) == nBefore - out(1).getLong(2))
  }

  test("bpeTrain: per-round token count drops by the executed merge count") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = CorpusStats.bpeTrain(docs, "text", 3).orderBy("round").collect()
    val n0 = docs.select(sum(size(TextOps.tokens(col("text")))).cast("long"))
      .head().getLong(0)
    var prev = n0
    rows.foreach { r =>
      val drop = prev - r.getLong(3)
      val Array(a, b) = { // pair is space-joined; round-1 parts are atomic
        val p = r.getString(1)
        // reported cnt counts OVERLAPPING occurrences; greedy executes
        // every one when left != right, and between half and all of them
        // in runs of identical tokens.
        if (r.getInt(0) == 1 && p.split(" ").length == 2) p.split(" ")
        else Array("", "")
      }
      if (a.nonEmpty && a != b) assert(drop == r.getLong(2),
        s"round ${r.getInt(0)}: drop $drop != cnt ${r.getLong(2)}")
      else assert(drop >= (r.getLong(2) + 1) / 2 && drop <= r.getLong(2),
        s"round ${r.getInt(0)}: drop $drop outside [cnt/2, cnt] of ${r.getLong(2)}")
      prev = r.getLong(3)
    }
  }

  test("bpeTrain: exhausts early when no doc has two tokens") {
    val docs = Seq((1L, "solo"), (2L, "alone")).toDF("doc_id", "text")
    assert(CorpusStats.bpeTrain(docs, "text", 5).count() == 0)
  }

  test("bpeEncode: replays the trainer's own final corpus token-for-token") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = CorpusStats.bpeMerges(docs, "text", 3)
    assert(merges.length == 3)
    val encoded = CorpusStats.bpeEncode(docs, "text", merges)
    // corpus-level law: one map-only encode pass lands exactly on the
    // trainer's post-round-3 token count
    val total = encoded.select(sum(size(col("tokens"))).cast("long"))
      .head().getLong(0)
    assert(total == merges.last.nTokensAfter)
    // token-level law on a sample: nested single-pass composition equals
    // applying the merges one materialized round at a time
    val sample = docs.filter(col("doc_id") % 37 === 0)
    val oneShot = CorpusStats.bpeEncode(sample, "text", merges)
      .select("doc_id", "tokens").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    var stepwise = sample.select(col("doc_id"), TextOps.tokens(col("text")).as("tokens"))
    merges.foreach { m =>
      stepwise = stepwise.select(col("doc_id"),
        NativeFunctions.graft_bpe_merge(col("tokens"), m.a, m.b).as("tokens"))
        .localCheckpoint() // materialize the round boundary
    }
    stepwise.collect().foreach { r =>
      assert(r.getSeq[String](1) == oneShot(r.getLong(0)), s"doc ${r.getLong(0)}")
    }
  }

  test("bpeEncode: empty merge list is plain tokenization") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val out = CorpusStats.bpeEncode(docs, "text", Nil).head().getSeq[String](2)
    assert(out == Seq("a", "b", "c"))
  }

  test("byteTokens: UTF-8 bytes + end-of-word markers, whitespace vanishes") {
    NativeFunctions.register(spark)
    val out = Seq((1L, "ab c"), (2L, "  x\t"), (3L, ""), (4L, "é"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), CorpusStats.byteTokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("97", "98", "</w>", "99", "</w>"))
    assert(out(2L) == Seq("120", "</w>")) // leading/trailing ws → nothing
    assert(out(3L) == Seq.empty)
    // TRUE bytes, not code points: é is two UTF-8 bytes (0xC3 0xA9)
    assert(out(4L) == Seq("195", "169", "</w>"))
  }

  test("byte-level bpeTrain: first merges on a controlled corpus, token law holds") {
    NativeFunctions.register(spark)
    // "aa aa aa ab": byte pairs — ("97","97") ×3, ("97","</w>")… the
    // dominant pair is 97+97 (count 3: one per "aa" plus inside… exactly
    // one per "aa" word and one in "ab"? no: "ab" is 97,98) → 3
    val docs = Seq((1L, "aa aa aa ab")).toDF("doc_id", "text")
    val t = CorpusStats.bpeTrain(docs, "text", rounds = 2,
      tokenizer = CorpusStats.byteTokens).collect()
    // round 1: ("97","97") appears in each "aa" → count 3; merged token
    // "97 97" then pairs with "</w>" 3 times → round 2 merges that (ties
    // with ("97 97","</w>")=3 vs ("97","98")=1 … deterministic by count)
    assert(t(0).getString(1) == "97 97" && t(0).getLong(2) == 3L)
    assert(t(1).getString(1) == "97 97 </w>" && t(1).getLong(2) == 3L)
    // token law: 8 byte tokens + 4 markers = 12 → -3 (round 1) -3 (round 2)
    assert(t(0).getLong(3) == 9L && t(1).getLong(3) == 6L)
    // encode with the trained byte-level merges reproduces the final count
    val merges = CorpusStats.bpeMerges(docs, "text", 2,
      tokenizer = CorpusStats.byteTokens)
    val encoded = CorpusStats.bpeEncode(docs, "text", merges,
      tokenizer = CorpusStats.byteTokens)
    assert(encoded.select(sum(size(col("tokens"))).cast("long")).head().getLong(0) == 6L)
  }

  test("byte-level INT-id fast path == string path, merge for merge") {
    NativeFunctions.register(spark)
    // the real corpus family (the oracle's input): every field of every
    // round must agree between the id-space trainer and the string-space
    // trainer — pair renderings, counts, and token-law accounting
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val slow = CorpusStats.bpeMerges(docs, "text", rounds = 5,
      tokenizer = CorpusStats.byteTokens)
    val fast = CorpusStats.bpeMergesBytes(docs, "text", rounds = 5)
    assert(fast == slow, s"fast=$fast\nslow=$slow")
    // id↔string tokenization correspondence on adversarial whitespace
    val ws = Seq((1L, "  a\tb\n\nc  "), (2L, ""), (3L, " \t ")).toDF("doc_id", "text")
    val both = ws.select(
      NativeFunctions.graft_byte_tokens(col("text")).as("s"),
      NativeFunctions.graft_byte_token_ids(col("text")).as("i")).collect()
    both.foreach { r =>
      val s = r.getSeq[String](0)
      val i = r.getSeq[Int](1)
      assert(s.length == i.length)
      s.zip(i).foreach { case (ts, ti) =>
        assert(if (ti == 256) ts == "</w>" else ts == ti.toString)
      }
    }
  }
}
