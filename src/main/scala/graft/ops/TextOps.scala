package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, shingling and
  * document fingerprinting.
  *
  * All operators are pure `Column` expressions built from
  * `org.apache.spark.sql.functions` — they stay inside whole-stage codegen
  * (no UDFs), are embarrassingly parallel (per-row, no shuffle), and scale
  * linearly with data size: at 100 TB this is a single map stage over the
  * parquet scan.
  */
object TextOps {

  /** Whitespace tokens of a document. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count: `length - length(without spaces) + 1` on the
    * trimmed text (cheap; no array materialization). Empty text → 0.
    * Space removal via the NON-regex `replace` (StringReplace): the
    * pattern is a literal, and java-regex replace is both slower and
    * JVM-throughput-capped (see [[graft.functions.Hashing.dedupKeyBytes]]). */
  def tokenCount(text: Column): Column = {
    val t = trim(text)
    when(length(t) === 0, lit(0))
      .otherwise(length(t) - length(replace(t, lit(" "), lit(""))) + 1)
  }

  /** Default English-ish stopword list used by [[stopwordCount]]. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

  /** Number of tokens that are stopwords. */
  def stopwordCount(text: Column, stopwords: Seq[String] = Stopwords): Column =
    coalesce(size(filter(tokens(text), t => t.isInCollection(stopwords))), lit(0))

  /** Number of punctuation characters. `\p{Punct}` in java regex (no
    * UNICODE_CHARACTER_CLASS flag) is exactly the 32 ASCII punctuation
    * characters, so the NON-regex `translate` computes the identical
    * count without the java-regex replace cost (OpsSpec pins equality
    * with the regex form on every ASCII punct char). */
  def punctCount(text: Column): Column =
    length(text) - length(translate(text,
      "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~", ""))

  /** Mean token length ×100, as an exact integer (deterministic across
    * engines — no float division). */
  def meanTokenLenX100(text: Column): Column = {
    val t = trim(text)
    // integer division (cast-truncate is exact here: int/int quotients are
    // never within an ulp of the next integer unless exactly divisible)
    when(tokenCount(text) === 0, lit(0L))
      .otherwise(((length(replace(t, lit(" "), lit(""))).cast("long") * 100) /
        tokenCount(text)).cast("long"))
  }

  /** Integer quality score in [0,100] from simple heuristics: token count
    * band, stopword presence, punctuation ratio. Deliberately all-integer
    * arithmetic so Spark and any SQL oracle agree bit-for-bit. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val lenScore = when(nTok.between(20, 1000), lit(40))
      .when(nTok.between(5, 19), lit(20)).otherwise(lit(0))
    val stopScore = when(stopwordCount(text) * 10 >= nTok, lit(30))
      .when(stopwordCount(text) > 0, lit(15)).otherwise(lit(0))
    val punctScore = when(punctCount(text) * 4 <= length(text), lit(30)).otherwise(lit(0))
    lenScore + stopScore + punctScore
  }

  /** Stopword set of the Gopher rule suite (Rae et al. 2021, table A1). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al. 2021, appendix A —
    * the filter battery most LLM data pipelines start from), as one
    * struct of per-rule booleans so callers can count, AND, or inspect
    * rules independently:
    *  - `len_ok`   — 50 ≤ word count ≤ 100,000;
    *  - `mwl_ok`   — mean word length in [3, 10] chars (×100 integer
    *    arithmetic, the [[meanTokenLenX100]] convention);
    *  - `sym_ok`   — symbol-to-word ratio ('#' or '...') ≤ 0.1;
    *  - `alpha_ok` — ≥80% of words contain an alphabetic character;
    *  - `stop_ok`  — ≥2 stopword occurrences.
    * The line-shape rules of the paper (bullet/ellipsis line fractions)
    * need a line splitter in front — see [[Dedup.lineDedupBySpan]]'s
    * span machinery. All-integer comparisons, so a SQL oracle replays
    * the flags bit-for-bit; pure codegen Column math, no shuffle. */
  def gopherFlags(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val mwlX100 = when(n === 0, lit(0L))
      .otherwise(((sumLen * 100).cast("double") / n).cast("long"))
    val hashes = (length(text) - length(translate(text, "#", ""))).cast("long")
    val dots = ((length(text) - length(replace(text, lit("..."), lit(""))))
      .cast("double") / 3).cast("long")
    val alphaCnt = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val stopCnt = size(filter(toks, t => t.isInCollection(GopherStopwords)))
    struct(
      n.between(50L, 100000L).as("len_ok"),
      mwlX100.between(300L, 1000L).as("mwl_ok"),
      ((hashes + dots) * 10 <= n).as("sym_ok"),
      (alphaCnt * 5 >= n * 4).as("alpha_ok"),
      (stopCnt >= 2).as("stop_ok"))
  }

  /** N-gram-heuristic language guess. A real pipeline would use character
    * n-gram profiles (or fastText); the *operator shape* is identical — a
    * per-row CASE over substring features, fully codegen'd. */
  def langGuess(text: Column): Column =
    when(text.rlike("\\b(the|and|of|is)\\b"), lit("en"))
      .when(text.rlike("\\b(der|und|die|das)\\b"), lit("de"))
      .when(text.rlike("\\b(le|la|et|les)\\b"), lit("fr"))
      .when(text.rlike("\\b(el|los|las|una)\\b"), lit("es"))
      .otherwise(lit("und"))

  /** Word n-gram shingles (arrays of n consecutive tokens joined by a
    * space). Documents shorter than n tokens yield their whole text as a
    * single shingle. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Character n-gram shingles over the whole text. */
  def charShingles(text: Column, n: Int): Column = {
    val t = trim(text)
    when(length(t) >= n,
      transform(sequence(lit(0), length(t) - lit(n)),
        i => t.substr(i + 1, lit(n))))
      .otherwise(array(t))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS algorithm): hash every char `k`-gram, then
    * keep the MINIMUM hash of each `w`-wide window; return the sorted
    * distinct selected values. The winnowing guarantee: any substring
    * match of length ≥ `w + k − 1` between two documents produces at
    * least one SHARED selected fingerprint, while only ~`2/(w+1)` of all
    * k-gram hashes are kept — position-robust substring-level dedup
    * fingerprints at a fraction of the full shingle-set size.
    * Pure per-row Column expression (no shuffle); Rabin-Karp hashes so
    * the whole selection replays in external SQL. Documents shorter
    * than `k` chars degrade to one whole-text fingerprint.
    *
    * This HOF formulation is the REFERENCE: higher-order lambdas are
    * interpreted, so each window pays a lambda call plus a slice
    * allocation (~3.6µs/window measured). The production path is the
    * native twin [[graft.functions.WinnowExpr]] (`graft_winnow`) — one
    * codegen'd O(L) pass with a monotonic-deque window minimum; OpsSpec
    * pins the two equal, including non-ASCII and whitespace edges. */
  def winnow(text: Column, k: Int = 5, w: Int = 8): Column = {
    require(k >= 2 && w >= 2, "k and w must be >= 2")
    val hsRaw = transform(charShingles(text, k), s => fingerprint(s))
    // Bind the hash array to a lambda variable (1-element wrapper, the
    // [[hashedShingles]] idiom) so it is computed ONCE per row — naively
    // referencing it inside the window lambda re-hashes the whole
    // document once per window (O(L²) — measured 60× slower).
    def minsOf(hs: Column): Column =
      when(size(hs) >= w,
        transform(sequence(lit(0), size(hs) - w),
          i => array_min(slice(hs, i + 1, lit(w)))))
        .otherwise(array(array_min(hs)))
    array_sort(array_distinct(
      try_element_at(transform(array(hsRaw), hs => minsOf(hs)), lit(1))))
  }

  /** Word n-gram shingles pre-hashed to longs in [0, 2^31-1): each token is
    * xxhash64'd ONCE, then shingle hashes are polynomial combinations of n
    * consecutive token hashes — no shingle strings are ever built. This is
    * the hot input to MinHash: at 100 TB the per-row cost is one string
    * hash per token + integer arithmetic, vs. hashing every shingle string
    * once per hash function (32×) in the naive formulation. */
  def hashedShingles(text: Column, n: Int): Column = {
    val p = 2147483647L
    val pows: Seq[Long] = Iterator.iterate(1L)(x => x * 31 % p).take(n).toSeq
    val toksH = transform(tokens(text), t => pmod(xxhash64(t), lit(p)))
    // Bind the token-hash array to a lambda variable (via transform over a
    // 1-element wrapper) so it is computed ONCE per row — naively embedding
    // it at each of the n term positions would re-evaluate it per shingle.
    // Term products: elem < 2^31 times pow < 2^31 stays under 2^62 (ANSI-safe).
    def shinglesOf(th: Column): Column =
      when(size(th) >= n,
        transform(sequence(lit(0), size(th) - lit(n)), i =>
          pmod((0 until n).map(k => try_element_at(th, i + lit(k + 1)) * lit(pows(k)))
            .reduce(_ + _), lit(p))))
        .otherwise(array(pmod(aggregate(th, lit(0L),
          (acc, h) => acc * 31 % p + h), lit(p))))
    try_element_at(transform(array(toksH), th => shinglesOf(th)), lit(1))
  }

  /** Email-address pattern shared by [[redactEmails]] and any SQL oracle:
    * deliberately restricted to constructs whose semantics agree across
    * regex engines (character classes + bounded repetition — identical in
    * Java regex and RE2). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** PII scrub: replace every email address with a placeholder token.
    * The shape generalizes to any regex-expressible PII class (phones,
    * IPs, ids) — per-row codegen'd regexp_replace, no shuffle, linear
    * scan at any scale. */
  def redactEmails(text: Column, replacement: String = "[EMAIL]"): Column =
    regexp_replace(text, EmailPattern, replacement)

  /** Dedup-key normalization (the CCNet/Gopher pre-hash step): lowercase,
    * punctuation → space, whitespace collapsed, trimmed. Two documents
    * differing only in case, punctuation or spacing normalize to the same
    * key, so exact dedup on the normalized key catches the trivial-mutation
    * duplicates raw-text hashing misses. Pure codegen'd per-row expression;
    * restricted to ASCII classes so a SQL oracle replays it exactly. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Dedup GROUP key over [[normalizeText]] with the non-Latin guard:
    * when the normalized form is EMPTY (a document written entirely in
    * non-[a-z0-9] characters — CJK, Cyrillic, Arabic, symbols — erases
    * to nothing under the ASCII normalization above), fall back to the
    * RAW text, so unrelated non-Latin documents are never collapsed
    * into one "duplicate" group and silently destroyed. Latin-script
    * corpora are unaffected (their normalized keys are non-empty).
    * The normalization itself remains deliberately Latin-script-only —
    * multilingual pipelines should run language-split upstream
    * ([[langGuess]]) and dedup per language; this key makes the failure
    * mode of NOT doing so conservative (raw-exact dedup) instead of
    * destructive. Pure codegen, replayable in external SQL
    * (`CASE WHEN nt = '' THEN text ELSE nt END`). This regex form is
    * the TRANSPARENT twin the oracles replay; production paths compute
    * the same key in one compiled byte pass ([[dedupKeyNative]]). */
  def dedupKey(text: Column): Column = {
    val n = normalizeText(text)
    when(n === "", text).otherwise(n)
  }

  /** [[dedupKey]] as ONE compiled byte pass (`graft_dedup_key` —
    * [[graft.functions.Hashing.dedupKeyBytes]]): identical values on
    * ASCII text and on scripts whose lowercase stays non-ASCII (the
    * CJK/Cyrillic/… raw-fallback class), with the exotic
    * uppercase-maps-into-ASCII divergence (U+212A, U+0130) documented
    * and spec-pinned there. Exists because the regex form both starts
    * ~20× slower AND serializes across executor threads (java.util
    * .regex total throughput is flat from 1→32 threads — measured,
    * see the Hashing scaladoc); this is the key the production paths
    * use. [[dedupKey]] stays as the transparent regex twin the SQL
    * oracles replay. */
  /** Single-pass ftfy-style mojibake repair (`graft_fix_mojibake` —
    * [[graft.functions.Hashing.fixMojibake]] holds the accept rule:
    * cp1252 re-encode + STRICT UTF-8 re-decode, repair only on success,
    * genuine accented text and CJK pass through unchanged). The standard
    * text-cleaning stage a web corpus runs BEFORE language ID and
    * quality scoring — mojibake skews both. Map-only, codegen'd, no SQL
    * twin (byte-level re-decode); q143 oracles it by construction. */
  def fixMojibake(text: Column): Column =
    graft.functions.NativeFunctions.graft_fix_mojibake(text)

  def dedupKeyNative(text: Column): Column =
    graft.functions.NativeFunctions.graft_dedup_key(text)

  /** 8-byte dedup key: `xxhash64` of the dedup key (computed via the
    * compiled [[dedupKeyNative]] pass) — the production shuffle key for
    * normalized dedup (the CCNet convention: CCNet itself groups
    * paragraphs by the first 8 bytes of a SHA1, accepting the same
    * collision bound). A collision falsely MERGES two distinct
    * documents (one of them is dropped/down-weighted): expected count
    * ≈ n²/2^65 over n distinct keys — ~0.003 at 10^9 documents, ~27 at
    * 10^11 (a 100 TB corpus of 1 KB docs), each costing one document.
    * Use the exact-key ops when that bound is unacceptable; the
    * fingerprint halves the dedup shuffle (the key is 8 bytes instead
    * of a second full copy of the text). NOT replayable in external
    * SQL (xxhash64 is engine-internal) — equivalence with the exact
    * key is spec-pinned instead (DedupSpec), SCOPED to ASCII text and
    * the non-ASCII-lowercase scripts where [[dedupKeyNative]] ==
    * [[dedupKey]]: on the exotic uppercase-maps-into-ASCII class
    * (U+212A KELVIN SIGN, U+0130 — the pinned divergence in
    * FunctionsSpec) this fingerprint follows the NATIVE key, so it can
    * group differently from the regex-keyed exact path there, and a
    * SQL oracle replaying the regex normalization would mismatch it on
    * such inputs. */
  def dedupFingerprint(text: Column): Column = xxhash64(dedupKeyNative(text))

  /** Polynomial rolling-hash fingerprint of a document (mod 2^31-1, so all
    * intermediate products stay < 2^62 and never overflow even under ANSI
    * arithmetic). Same recurrence as Rabin-Karp: h = h*31 + code(c) mod p. */
  def fingerprint(text: Column): Column = {
    val p = 2147483647L // 2^31 - 1
    aggregate(split(text, ""), lit(0L),
      (h, c) => pmod(h * 31 + coalesce(ascii(c).cast("long"), lit(0L)), lit(p)))
  }
}
