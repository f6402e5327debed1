package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-class PII detection and redaction — the scrub step of a
  * web-scale training-data pipeline. The class set (email addresses,
  * phone numbers, IP addresses) mirrors the published Dolma/CCNet
  * pipelines' PII taxonomy; [[TextOps.redactEmails]] is the single-class
  * special case and shares [[TextOps.EmailPattern]].
  *
  * Scale design (100 TB): every operator here is a pure per-row `Column`
  * expression over codegen'd `regexp_count`/`regexp_replace` — no UDF, no
  * shuffle, a single map stage fused into the scan. The audit is one
  * hash-partitioned groupBy whose shuffle carries only per-group counter
  * rows.
  *
  * Patterns are deliberately restricted to constructs with identical
  * semantics in Java regex and RE2 (character classes, bounded repetition,
  * ASCII `\b`) so a DuckDB oracle replays them exactly.
  */
object Pii {

  /** One PII class: (name, pattern, replacement token). */
  final case class PiiClass(name: String, pattern: String, replacement: String)

  /** Email addresses — shared with [[TextOps.redactEmails]]. */
  val Email: PiiClass = PiiClass("email", TextOps.EmailPattern, "[EMAIL]")

  /** NANP-style phone numbers across the common renderings:
    * `555-123-4567`, `555 123 4567`, `555.123.4567`, `(555) 123-4567`
    * (separator after the parens optional), each with an optional
    * `+1<sep>` country prefix. Word-bounded on digit edges so order ids
    * / long digit runs / 3-part version strings never match; the
    * paren/`+1` alternatives start on literal `(`/`+` (a `\b` there can
    * never match — both sides non-word), which errs toward matching,
    * the module's stated over-redaction bias. That bias has a concrete
    * accepted false-positive class, pinned in PiiSpec: any numeric
    * shaped `ddd.ddd.dddd` or with MIXED separators (`555.123 4567`) is
    * redacted — the dotted triple IS a real NANP rendering, and the
    * separator classes are independent (no backreference: RE2 has
    * none), so a dotted metric/ID that happens to hit 3-3-4 digit
    * grouping is scrubbed. A pipeline for which that class is precious
    * should pass a custom [[PiiClass]] chain with per-separator
    * branches. RE2-safe construct set (alternation, classes, bounded
    * repetition, ASCII `\b`) so the DuckDB oracle replays it exactly. */
  val Phone: PiiClass = PiiClass("phone",
    "(\\+1[- .])?(\\(\\d{3}\\)[- .]?|\\b\\d{3}[- .])\\d{3}[- .]\\d{4}\\b",
    "[PHONE]")

  /** Dotted-quad IPv4 literals. Permissive (no 0-255 range check): the
    * scrub's failure mode should be over-redaction, never a leak. */
  val Ipv4: PiiClass = PiiClass("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]")

  /** Default scrub chain, applied IN ORDER. Order matters when classes
    * overlap textually (an IPv4-shaped local-part inside an email): each
    * class counts and redacts on the text as the previous classes left
    * it, so no span is ever attributed to two classes. */
  val Classes: Seq[PiiClass] = Seq(Email, Phone, Ipv4)

  /** Non-overlapping match count of one class on `text`. */
  def countMatches(text: Column, cls: PiiClass): Column =
    regexp_count(text, lit(cls.pattern)).cast("long")

  /** One class's redaction, GATED on a find-type match count: java
    * regex `replaceAll` is the expensive, JVM-throughput-capped
    * operation (measured — see [[graft.functions.Hashing.dedupKeyBytes]]
    * scaladoc) while find-type matching scales, and on a real corpus
    * most documents carry no PII of a given class, so the guard turns
    * the common case into a count + pass-through. Value-identical:
    * replacing on a zero-match text is the identity. */
  private def guardedReplace(t: Column, c: PiiClass): Column =
    when(regexp_count(t, lit(c.pattern)) > 0,
      regexp_replace(t, c.pattern, c.replacement)).otherwise(t)

  /** Per-row scrub: adds `n_<class>` count columns (counted on the text
    * each class actually sees in the chain) and `<textCol>_scrubbed`.
    * The original text column is kept — dropping it is the caller's call
    * (an audit pipeline keeps both; a release pipeline drops the raw). */
  def scrub(df: DataFrame, textCol: String,
      classes: Seq[PiiClass] = Classes): DataFrame = {
    Sampling.requireFreshColumns(df, "Pii.scrub",
      classes.map(c => s"n_${c.name}") :+ s"${textCol}_scrubbed": _*)
    // one chained expression per output column; Catalyst CSEs the shared
    // prefixes so each redaction stage is evaluated once per row. Each
    // stage's replace is count-gated (see guardedReplace) — the count is
    // the same find the n_<class> column runs, so a clean row pays two
    // cheap finds and zero replaceAll calls per class
    val stages: Seq[Column] = classes.scanLeft(col(textCol))(guardedReplace)
    val withCounts = classes.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      d.withColumn(s"n_${c.name}", countMatches(stages(i), c))
    }
    withCounts.withColumn(s"${textCol}_scrubbed", stages.last)
  }

  /** Per-group PII audit: document counts, per-class match totals, how
    * many documents carried any PII, and `chars_delta` — the SIGNED
    * per-group length change `Σ (len(text) − len(scrubbed))`. Positive
    * when redaction shrank the text; NEGATIVE when replacement tokens
    * outgrow their matches (`x@y.io` → `[EMAIL]` is −1), so it is a raw
    * length delta, deliberately NOT clamped: the raw delta is what an
    * external engine can replay exactly (the q122 oracle), and a
    * release gate that needs "characters matched" should gate on the
    * per-class counts, not this column. One map stage + one counter-row
    * groupBy at any scale. */
  def audit(df: DataFrame, groupCol: String, textCol: String,
      classes: Seq[PiiClass] = Classes): DataFrame = {
    val scrubbed = scrub(df, textCol, classes)
    val anyPii = classes.map(c => col(s"n_${c.name}")).reduce(_ + _) > 0
    scrubbed.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      classes.map(c => sum(col(s"n_${c.name}")).as(s"${c.name}s")) ++ Seq(
        sum(when(anyPii, 1L).otherwise(0L)).as("docs_with_pii"),
        sum((length(col(textCol)) - length(col(s"${textCol}_scrubbed")))
          .cast("long")).as("chars_delta")): _*)
  }
}
