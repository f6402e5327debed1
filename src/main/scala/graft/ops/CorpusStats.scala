package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Corpus-level distributional statistics for training-data curation:
  * per-document token profiles (repetition / C4-style heuristic filters)
  * and corpus document-frequency / TF-IDF.
  *
  * Unlike [[TextOps]] (pure per-row Column expressions), these operators
  * aggregate ACROSS rows and therefore shuffle — the scale design keeps
  * every shuffle proportional to (doc, token) pair counts after map-side
  * partial aggregation, never to raw text bytes:
  *  - [[tokenProfile]]: explode → two-level groupBy; the first level
  *    combines per-partition, so the shuffle carries (doc, token, count)
  *    with one row per DISTINCT token per doc;
  *  - [[documentFrequency]]: distinct (doc, token) map-side, then a
  *    token-keyed count — shuffle ∝ vocabulary × docs containing it.
  */
object CorpusStats {

  /** Per-document token distribution profile: total / distinct token
    * counts, the top token's frequency, and the longest token. All-integer
    * outputs (engine-independent, SQL-replayable).
    *
    * Duplicate-token fraction `(n_tokens − n_distinct)/n_tokens` and
    * top-token coverage `top_count/n_tokens` are the word-level analogues
    * of the repeated-line / most-common-word filters used by large-scale
    * corpus curation recipes (duplicated-content removal before near-dup
    * detection). */
  def tokenProfile(docs: DataFrame, idCol: String, textCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    val perTok = docs
      .select((col(idCol) +: keep.map(col)) :+
        explode(TextOps.tokens(col(textCol))).as("tok"): _*)
      .groupBy((idCol +: keep :+ "tok").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    perTok.groupBy((idCol +: keep).map(col): _*)
      .agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_count"),
        max(length(col("tok"))).as("max_token_len"))
  }

  /** Document frequency per token: the number of documents containing each
    * token at least once. The distinct() is a map-side partial distinct on
    * (doc, token) — the shuffle never carries duplicate occurrences. */
  def documentFrequency(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("tok"))
      .distinct()
      .groupBy("tok")
      .agg(count(lit(1)).as("df"))

  /** Inverse document frequency, rounded to 8 decimals so the `ln` (libm,
    * may differ in the last ulp across engines) compares exactly. */
  def idf(nDocs: Column, df: Column): Column =
    round(log(nDocs.cast("double") / df.cast("double")), 8)

  /** Adjacent token-pair (bigram) frequencies — the counting step of a
    * BPE-style vocabulary-training round (the most frequent pair is the
    * next merge). One explode + one partial-aggregating groupBy: shuffle
    * rows bounded by distinct pairs per partition, never raw occurrences.
    * Documents with fewer than two tokens contribute nothing (the size
    * guard also keeps ANSI mode happy — `slice` with a negative length
    * throws). */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame =
    bigramOccurrences(docs, textCol)
      .groupBy("pair")
      .agg(count(lit(1)).as("cnt"))

  /** One trained merge: the pair (a, b), its pre-merge corpus frequency,
    * and the corpus token count after applying it. `a`/`b` are kept as
    * SEPARATE tokens (merged tokens contain spaces, so the space-joined
    * rendering is ambiguous as an input to further processing). */
  case class BpeMerge(a: String, b: String, cnt: Long, nTokensAfter: Long)

  /** Iterative BPE merge trainer: `rounds` rounds of (count adjacent
    * pairs → pick the most frequent → greedily merge it corpus-wide).
    * Extends the one counting round of [[bigramCounts]] into the full
    * training loop; returns one row per executed round with the merged
    * pair, its pre-merge frequency, and the corpus token count after the
    * merge.
    *
    * Control flow is the [[Dedup.connectedComponents]] eager-loop idiom
    * taken one step further — ONE Spark job per round (r9 verdict item:
    * the previous shape paid two, top-pair agg + merge/checkpoint, and
    * the wall clock of a small-data iterative loop is per-job scheduling
    * latency): the round's merges are NOT materialized; they compose as
    * nested [[graft.functions.BpeMergeExpr]] calls (the [[bpeEncode]]
    * trick) on top of the last checkpoint, so round r's single pair-agg
    * job scans `checkpoint + ≤checkpointEvery compiled merges`, and the
    * PREVIOUS merge's post-merge token count rides that same job as an
    * observed metric. Every `checkpointEvery` rounds the composed
    * corpus is `localCheckpoint()`ed (one extra job, amortized) to
    * bound re-apply depth and keep planning O(1); the final merge's
    * token count costs one closing count job. Jobs total:
    * k·(1 + 1/checkpointEvery) + 1 instead of 2k. The DRIVER still
    * holds only one (a, b, cnt) row per round — the distributed
    * groupBy top-1 stays (a driver-side pair-count map would be
    * corpus-vocabulary-sized for word tokenizers at 100 TB).
    *
    * Pair selection keys on the (left, right) token STRUCT, never on the
    * space-joined rendering — merged tokens contain spaces, so the
    * string form is ambiguous as a key (the rendering is output-only).
    * Ties break by (count desc, left asc, right asc): deterministic and
    * engine-replayable.
    *
    * At 100 TB: per round, one partial-aggregated pair-count shuffle
    * (rows ∝ distinct pairs) feeding a driver top-1, over a shuffle-free
    * compiled merge re-application (≤checkpointEvery deep — the re-apply
    * trades bounded recompute for halved job count; at petabyte scans
    * set `checkpointEvery` low, at vocabulary-budget round counts the
    * scheduling latency dominates and the default is right). Round
    * count is the vocabulary budget (k merges), not data-sized. */
  def bpeTrain(docs: DataFrame, textCol: String, rounds: Int,
      tokenizer: Column => Column = TextOps.tokens): DataFrame =
    renderMerges(docs, bpeMerges(docs, textCol, rounds, tokenizer))

  /** One row per trained merge: `(round, pair, cnt, n_tokens_after)`. */
  private def renderMerges(docs: DataFrame, merges: Seq[BpeMerge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    merges.zipWithIndex
      .map { case (m, i) => (i + 1, m.a + " " + m.b, m.cnt, m.nTokensAfter) }
      .toDF("round", "pair", "cnt", "n_tokens_after")
  }

  /** BYTE-LEVEL tokenization for the trainer ([[bpeMerges]]'s `tokenizer`
    * arg): each word becomes its UTF-8 bytes as decimal-string tokens
    * plus an `</w>` end-of-word marker (codegen'd —
    * [[graft.functions.ByteTokensExpr]]). This is how production
    * tokenizer pipelines train: the 256-byte base vocabulary is CLOSED
    * (any input, any language, no unknown symbols), and the marker keeps
    * merges from crossing word boundaries in rendered text. The merge
    * loop itself is representation-agnostic — the same
    * [[graft.functions.BpeMergeExpr]] pass, the same driver control. */
  def byteTokens(text: Column): Column =
    graft.functions.NativeFunctions.graft_byte_tokens(text)

  /** The trainer's driver-side merge table — the vocabulary artifact a
    * downstream [[bpeEncode]] consumes. Same loop as [[bpeTrain]] (which
    * is now a thin rendering of this).
    *
    * NOT batched (r15 analysis): taking the top-K pairs per scan to
    * halve jobs-per-train is unsound for BPE semantics. Applying the
    * round's #1 merge (a,b)→ab creates successor pairs (x,ab) / (ab,y)
    * whose counts can reach the #1 merge's own count, so any of them
    * may outrank the scan's #2..#K candidates — the true sequence is
    * only knowable after re-counting. Detecting the safe prefix would
    * need a trigram count alongside the pair count, which shuffles
    * more rows than the scans it saves; the per-round argmax is
    * inherently sequential. The loop already pays ONE job per round
    * (nested unmaterialized merges over a tokenized checkpoint), which
    * is the per-job-latency floor for a faithful trainer. */
  def bpeMerges(docs: DataFrame, textCol: String, rounds: Int,
      tokenizer: Column => Column = TextOps.tokens,
      checkpointEvery: Int = 16): Seq[BpeMerge] =
    trainMerges[(String, String)](docs, textCol, rounds, checkpointEvery, tokenizer,
      (c, m) => graft.functions.NativeFunctions.graft_bpe_merge(c, m._1, m._2),
      (x, y) => struct(x.as("l"), y.as("r")),
      (pairs, _) => pairs.groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("l"), asc("r")),
      (row, _) => {
        val (a, b) = (row.getString(0), row.getString(1))
        ((a, b), BpeMerge(a, b, row.getLong(2), -1L))
      })

  /** The trainer's control loop ([[bpeTrain]] gives its job shape),
    * shared by the string and the byte-id representations. One gives its
    * tokenizer, the merge expression of one pending merge `M`, the pair
    * expression of two adjacent tokens, the pair count ordered best-first
    * over the exploded pairs `p`, and the decode of the top row (given
    * the merges so far). The TOKENIZED corpus is checkpointed once up
    * front: tokenization costs more than a merge pass (measured: q87
    * 3.05s re-tokenizing every round vs 2.6s). */
  private def trainMerges[M](docs: DataFrame, textCol: String, rounds: Int,
      checkpointEvery: Int, tokenizer: Column => Column,
      merge: (Column, M) => Column, pair: (Column, Column) => Column,
      rank: (DataFrame, Seq[BpeMerge]) => DataFrame,
      decode: (Row, Seq[BpeMerge]) => (M, BpeMerge)): Seq[BpeMerge] = {
    require(rounds >= 1, "bpeTrain needs at least one merge round")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    var base: DataFrame =
      docs.select(tokenizer(col(textCol)).as("toks")).localCheckpoint()
    var pending = Vector.empty[M]
    def corpus: DataFrame = base.select(pending.foldLeft(col("toks"))(merge).as("toks"))
    def countTokens(row: Row): Long = if (row.isNullAt(0)) 0L else row.getLong(0)
    val out = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var exhausted = false
    while (out.size < rounds && !exhausted) {
      if (pending.size >= checkpointEvery) {
        // bound the re-apply depth: materialize the composed corpus
        // (one extra job every checkpointEvery rounds), release the
        // superseded checkpoint's blocks
        val fresh = corpus.localCheckpoint()
        Iterative.release(base)
        base = fresh; pending = Vector.empty
      }
      // one job: the pair-count agg scans the composed corpus, and the
      // PREVIOUS merge's post-merge token count rides it as an observed
      // metric (the CC-convergence trick) — the token sum sees the
      // corpus BELOW the >=2-token filter, i.e. the true total
      val name = s"bpe_scan_${out.size + 1}"
      val frame = corpus.observe(name,
        sum(size(col("toks")).cast("long")).as("n_tokens"))
      val pairs = frame.where(size(col("toks")) >= 2)
        .select(explode(
          zip_with(
            slice(col("toks"), lit(1), size(col("toks")) - 1),
            slice(col("toks"), lit(2), size(col("toks")) - 1),
            pair)).as("p"))
      val top = rank(pairs, out.toSeq).limit(1)
      val rows = top.collect()
      if (out.nonEmpty && out.last.nTokensAfter < 0) {
        val m = top.queryExecution.observedMetrics(name)
        out(out.size - 1) = out.last.copy(nTokensAfter = countTokens(m))
      }
      if (rows.isEmpty) exhausted = true // no doc has 2 tokens left
      else {
        val (m, trained) = decode(rows(0), out.toSeq)
        pending :+= m
        out += trained // nTokensAfter observed on the next scan
      }
    }
    // the last merge's post-merge count has no next scan to ride —
    // one closing count job
    if (out.nonEmpty && out.last.nTokensAfter < 0) {
      val last = corpus.agg(sum(size(col("toks")).cast("long"))).head()
      out(out.size - 1) = out.last.copy(nTokensAfter = countTokens(last))
    }
    Iterative.release(base)
    out.toSeq
  }

  /** BYTE-LEVEL trainer FAST PATH — semantics identical to
    * `bpeMerges(docs, textCol, rounds, byteTokens)` merge-for-merge
    * (BpeSpec pins full equality), exploiting what makes byte-level
    * training special: the alphabet is CLOSED, so tokens can be INT ids
    * (0–255 = bytes, 256 = `</w>`, 257+r = the r-th merge) instead of
    * strings. The per-round pair aggregation then keys ONE packed
    * bigint (`l·2^21 + r` — exact: ids < 2^21) instead of a two-string
    * struct, and the merge pass rewrites int arrays
    * ([[graft.functions.BpeMergeIdsExpr]]) — the explode+hash-agg that
    * dominates the trainer's wall clock (tens of millions of adjacent
    * pairs per round at sf0.1) runs on primitive longs.
    *
    * Output parity: tie-breaks replay the generic path's
    * RENDERED-string order — (cnt desc, l asc, r asc) on the decimal /
    * `</w>` / space-joined renderings — via a (k+1)-branch projection
    * applied AFTER the aggregation (distinct-pair rows, never
    * occurrences), so the result is bit-identical to the string path.
    * Word-level training cannot take this path: an open vocabulary
    * would need a corpus-sized id dictionary.
    *
    * Identity boundary (documented, not silent): ids key tokens by
    * DERIVATION, the string path keys them by RENDERING. The two
    * coincide unless two distinct merge derivations render to the same
    * string (e.g. merge("1","2 3") and merge("1 2","3") both rendering
    * "1 2 3" — constructible only when both parent merges were
    * themselves selected, i.e. an adversarial corpus at ≥3 rounds); on
    * such a corpus the string path CONFLATES the colliding tokens from
    * that point on while this path keeps them distinct. BpeSpec pins
    * path equality on the real corpus family.
    *
    * It runs [[bpeMerges]]'s loop, so the jobs per round are the same. */
  def bpeMergesBytes(docs: DataFrame, textCol: String, rounds: Int,
      checkpointEvery: Int = 16): Seq[BpeMerge] = {
    require(rounds < (1 << 21) - 258, "merge ids must stay below 2^21")
    // decimal for byte ids, the marker for 256, the space-joined
    // rendering of merge r for id 257 + r — evaluated only on
    // distinct-pair rows after the aggregation
    def renderCol(idc: Column, done: Seq[BpeMerge]): Column = {
      val baseR = when(idc === 256, lit("</w>")).otherwise(idc.cast("string"))
      done.zipWithIndex.foldLeft(baseR) { case (acc, (m, i)) =>
        when(idc === lit(257 + i), lit(m.a + " " + m.b)).otherwise(acc)
      }
    }
    trainMerges[(Int, Int, Int)](docs, textCol, rounds, checkpointEvery,
      graft.functions.NativeFunctions.graft_byte_token_ids,
      (c, m) => graft.functions.NativeFunctions.graft_bpe_merge_ids(c, m._1, m._2, m._3),
      (x, y) => x.cast("long") * lit(2097152L) + y.cast("long"),
      (pairs, done) => pairs.groupBy("p")
        .agg(count(lit(1)).as("cnt"))
        .select(
          shiftright(col("p"), 21).cast("int").as("l_id"),
          pmod(col("p"), lit(2097152L)).cast("int").as("r_id"),
          col("cnt"))
        .withColumn("l", renderCol(col("l_id"), done))
        .withColumn("r", renderCol(col("r_id"), done))
        .orderBy(desc("cnt"), asc("l"), asc("r")),
      (row, done) => {
        val (a, b) = (row.getAs[String]("l"), row.getAs[String]("r"))
        ((row.getAs[Int]("l_id"), row.getAs[Int]("r_id"), 257 + done.size),
          BpeMerge(a, b, row.getAs[Long]("cnt"), -1L))
      })
  }

  /** [[bpeTrain]]'s rendering over the byte-level fast path
    * ([[bpeMergesBytes]]) — drop-in for
    * `bpeTrain(docs, textCol, rounds, byteTokens)`. */
  def byteBpeTrain(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
    renderMerges(docs, bpeMergesBytes(docs, textCol, rounds))

  /** BPE ENCODE — apply a trained merge list ([[bpeMerges]]) to a corpus:
    * the tokenizer-application step that follows vocabulary training in
    * an LM data pipeline. Adds `outCol: array<string>` holding the
    * encoded tokens.
    *
    * Scale shape: ONE map-only projection — the k merges compose as k
    * nested [[graft.functions.BpeMergeExpr]] calls inside a single
    * whole-stage-codegen pass over the corpus. No shuffle, no state, no
    * per-merge materialization; encoding 100 TB is exactly one read.
    * (Training pays jobs per round; encoding must not.) BpeSpec pins
    * encode == the trainer's own final corpus, token for token. */
  def bpeEncode(docs: DataFrame, textCol: String,
      merges: Seq[BpeMerge], outCol: String = "tokens",
      tokenizer: Column => Column = TextOps.tokens): DataFrame = {
    val encoded = merges.foldLeft(tokenizer(col(textCol))) { (c, m) =>
      graft.functions.NativeFunctions.graft_bpe_merge(c, m.a, m.b)
    }
    docs.withColumn(outCol, encoded)
  }

  /** Per-document log-probability mass under the corpus's OWN unigram
    * model — the classic statistical quality signal (documents whose
    * token distribution is unusual for the corpus score low; gibberish
    * and boilerplate both stand out). Returns one row per document:
    * `(id, n_tokens, sum_lp_x1e8)` where each token contributes
    * ln(count(tok)/total_tokens), rounded to 8 decimals and carried as
    * integer 1e-8 units so the per-document sum is EXACT and
    * order-independent (a raw double sum is neither; libm `ln` may
    * differ in the last ulp across engines — the [[idf]] convention).
    *
    * Scale shape: per-(doc, token) counts first (map-side partials —
    * the join and everything after it sees DISTINCT doc-token pairs,
    * never raw occurrences), token frequencies from those counts,
    * totals via a one-row crossJoin, then a token-keyed join back.
    * Shuffle ∝ distinct (doc, token); the frequency side is vocabulary-
    * sized (broadcasts when small, sort-merges when not). */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docTok = docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("c"))
    val freq = docTok.groupBy("tok").agg(sum(col("c")).as("cnt"))
    val lp = freq
      .crossJoin(freq.agg(sum(col("cnt")).as("total")))
      .select(col("tok"),
        round(round(log(col("cnt").cast("double") / col("total").cast("double")), 8)
          * 1e8, 0).cast("long").as("lp_x1e8"))
    docTok.join(lp, "tok")
      .groupBy(idCol)
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("lp_x1e8")).as("sum_lp_x1e8"))
  }

  /** Top collocations by pointwise mutual information: adjacent pairs
    * whose joint probability most exceeds what their unigram frequencies
    * predict — the standard corpus primitive for multi-word expressions
    * and template/boilerplate discovery. `minCount` suppresses hapax
    * noise (rare pairs have unboundedly high PMI estimates).
    *
    * PMI = ln((cnt/nPairs) / ((cntL/nToks)·(cntR/nToks))), rounded to 8
    * decimals and emitted as integer 1e-8 units (the [[idf]]/
    * [[unigramLogProb]] cross-engine convention). Keys are the (l, r)
    * token STRUCT (raw whitespace tokens — unambiguous), ties break by
    * (pmi desc, l, r).
    *
    * Scale shape: one pair aggregation (shuffle ∝ distinct pairs after
    * map-side partials), one unigram aggregation joined twice
    * (vocabulary-sized — broadcasts when small), totals as one-row
    * crossJoins, and a TakeOrderedAndProject top-k — no global sort. */
  def topPmiPairs(docs: DataFrame, textCol: String,
      minCount: Long = 5, k: Int = 20): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val pairs = docs.where(size(toks) >= 2)
      .select(explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("cnt"))
    val uni = docs.select(explode(toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("ucnt"))
    val pmi = pairs
      .filter(col("cnt") >= minCount)
      .join(uni.select(col("tok").as("l"), col("ucnt").as("lcnt")), Seq("l"))
      .join(uni.select(col("tok").as("r"), col("ucnt").as("rcnt")), Seq("r"))
      .crossJoin(pairs.agg(sum(col("cnt")).as("npair")))
      .crossJoin(uni.agg(sum(col("ucnt")).as("ntok")))
      .select(col("l"), col("r"), col("cnt"),
        round(round(log(
          (col("cnt").cast("double") / col("npair").cast("double")) /
            ((col("lcnt").cast("double") / col("ntok").cast("double")) *
              (col("rcnt").cast("double") / col("ntok").cast("double")))), 8)
          * 1e8, 0).cast("long").as("pmi_x1e8"))
    pmi.orderBy(desc("pmi_x1e8"), asc("l"), asc("r")).limit(k)
  }

  /** One row per adjacent-pair OCCURRENCE (`pair` column, pre-aggregation)
    * — the raw stream [[bigramCounts]] groups and sketches
    * ([[CountMin]]) consume. */
  def bigramOccurrences(docs: DataFrame, textCol: String): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val pairs = when(size(toks) >= 2,
        zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    docs.select(explode(pairs).as("pair"))
  }

  /** CCNet-style perplexity banding (Wenzek et al., "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data", LREC 2020):
    * per LANGUAGE, rank documents by model perplexity and split into
    * head/middle/tail terciles — the standard quality partition a crawl
    * pipeline stores next to each document. The "model" here is the
    * per-language unigram distribution of the corpus itself (the
    * [[unigramLogProb]] proxy, per-language): average per-token log-prob
    * in exact integer 1e-8 units, higher = less perplexing = head.
    *
    * Scale shape: per-language token frequencies are a vocab-sized
    * aggregation; the per-doc score is the q83 join-aggregate (shuffle ∝
    * distinct (lang, doc, token)); the tercile is one ntile window per
    * language partition (the q82 rank-family shape). The average uses
    * `div` (truncate-toward-zero) — exactly DuckDB's `//` on the
    * NEGATIVE sums: both engines truncate, so the integer averages agree
    * bit-for-bit (mixing floor and truncate semantics would disagree on
    * almost every document). */
  def ccnetBuckets(docs: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame = {
    val docTok = docs
      .select(col(idCol), col(langCol),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col(langCol), col("tok"))
      .agg(count(lit(1)).as("c"))
    val freq = docTok.groupBy(langCol, "tok").agg(sum(col("c")).as("cnt"))
    val totals = freq.groupBy(langCol).agg(sum(col("cnt")).as("total"))
    val lp = freq.join(totals, langCol)
      .select(col(langCol), col("tok"),
        round(round(log(col("cnt").cast("double") / col("total").cast("double")), 8)
          * 1e8, 0).cast("long").as("lp_x1e8"))
    val perDoc = docTok.join(lp, Seq(langCol, "tok"))
      .groupBy(col(idCol), col(langCol))
      .agg(sum(col("c")).as("n"), sum(col("c") * col("lp_x1e8")).as("s"))
      .select(col(idCol), col(langCol),
        expr("s div n").as("avg_lp_x1e8"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(langCol).orderBy(desc("avg_lp_x1e8"), col(idCol))
    perDoc.withColumn("ppl_band",
      element_at(array(lit("head"), lit("middle"), lit("tail")),
        ntile(3).over(w)))
  }

  /** One-pass per-group corpus profile — the "data card" numbers every
    * training corpus ships with: exact document and token counts, exact
    * Gopher-battery pass counts, plus the two MERGEABLE sketches (HLL
    * over native text fingerprints for distinct-document estimation,
    * DDSketch over the length column for size quantiles). ONE
    * aggregation job over the corpus; because the sketch columns merge
    * bit-exactly ([[Hll.merge]]/[[DdSketch.merge]]), per-shard or
    * per-day profile rows roll up into the corpus-wide card without
    * rescanning — the incremental data-card path. Shuffle carries one
    * row per group (counts + two sketch blobs), never text. */
  def profile(docs: DataFrame, groupCol: String, textCol: String,
      lenCol: String): DataFrame = {
    val g = TextOps.gopherFlags(col(textCol))
    docs.groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(col(textCol))).cast("long")).as("sum_tokens"),
        sum(when(g.getField("len_ok") && g.getField("mwl_ok") &&
          g.getField("sym_ok") && g.getField("alpha_ok") &&
          g.getField("stop_ok"), 1L).otherwise(0L)).as("n_gopher_pass"),
        Hll.sketch(graft.functions.NativeFunctions
          .graft_fingerprint(col(textCol))).as("fp_hll"),
        DdSketch.sketch(col(lenCol).cast("double")).as("len_dd"))
  }

  /** Misra–Gries heavy-hitters summary as an aggregate Column —
    * `df.groupBy(...).agg(CorpusStats.heavyHittersAgg(col("tok"), k))`
    * (the [[Hll.sketch]] shape). Map-side partials apply, so each partial
    * aggregate carries at most k counters — shuffle ∝ k × partitions,
    * never the vocabulary. */
  def heavyHittersAgg(tokenCol: Column, k: Int): Column =
    new graft.functions.MisraGriesAggregator(k).column(tokenCol)

  /** Roll-up merge of heavy-hitters summaries (the [[Hll.merge]] twin):
    * per-shard/per-window summaries combine into coarser ones with the
    * same capacity and the same error bound over the combined stream —
    * the mergeable-summary property exact counts don't have. */
  def heavyHittersMerge(summaryCol: Column, k: Int): Column =
    new graft.functions.MisraGriesAggregator(k).rollUp(summaryCol)

  /** Corpus heavy hitters: the most frequent tokens via a Misra–Gries
    * summary ([[graft.functions.MisraGriesAggregator]]) — bounded state,
    * shuffle `≤ k × partitions` entries instead of one row per DISTINCT
    * token (the exact `groupBy(token)` alternative shuffles the whole
    * 10^9-entry web vocabulary to answer a top-20 question). Returns one
    * row per surviving token: `(token, est)` with the MG guarantees
    * (never over-counts; undercount ≤ N/(k+1); exact when k ≥ distinct
    * tokens). Deterministic only in the exact regime — in the
    * approximate regime the low-count tail of the summary depends on
    * merge order (the guarantee does not). */
  def heavyHitters(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .agg(heavyHittersAgg(col("tok"), k).as("summary"))
      .select(explode(col("summary")).as(Seq("token", "est")))

  /** Per-group heavy-hitters SUMMARIES — one `(group, summary)` row per
    * value of `groupCol` (day, shard, source). This is the cross-run
    * STATE format: the summary map is k-bounded (k × ~tokens bytes per
    * group, independent of corpus size), handed off as parquet through
    * [[graft.etl.Zones.materialize]], and mergeable later with
    * [[heavyHittersRollup]] under the composed MG bound — the
    * [[graft.ops.Incremental]] daily-pipeline story applied to
    * vocabulary tracking: today's run appends today's row; nothing is
    * ever re-tokenized. */
  def heavyHittersByGroup(docs: DataFrame, textCol: String,
      groupCol: String, k: Int): DataFrame =
    docs.select(col(groupCol), explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(groupCol)
      .agg(heavyHittersAgg(col("tok"), k).as("summary"))

  /** Roll persisted per-group summaries up into one `(token, est)`
    * summary via the [[graft.functions.MisraGriesAggregator]] roll-up. The
    * mergeable-summary bound composes: the roll-up of k-summaries of
    * streams S₁…Sₘ is a valid k-summary of their concatenation
    * (never over-counts; undercount ≤ |S₁…Sₘ|/(k+1); EXACT when k ≥
    * the combined vocabulary — the regime the q136 oracle hash-checks
    * against a from-scratch GROUP BY). Input is the state table, so
    * the roll-up reads k×groups map entries, never the corpus. */
  def heavyHittersRollup(state: DataFrame, summaryCol: String,
      k: Int): DataFrame =
    state.agg(heavyHittersMerge(col(summaryCol), k).as("merged"))
      .select(explode(col("merged")).as(Seq("token", "est")))
}
