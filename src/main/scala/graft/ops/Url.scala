package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + filtering — the front stage of every web-crawl
  * curation pipeline (C4 and RefinedWeb both start here: normalize the
  * URL, drop blocklisted domains and non-document resources, then dedup
  * by canonical URL before any text processing runs, because a URL-level
  * drop is ~10^3× cheaper than fetching/parsing the page it names).
  *
  * Everything is composed from built-in string/regexp/array expressions —
  * per-row, no shuffle, and (HOF filter/sort aside) codegen'd — and is
  * deliberately restricted to constructs an external SQL engine replays
  * exactly (anchored regexes, lexicographic ASCII sort), so the whole
  * canonicalization is oracle-checkable end-to-end (q129).
  *
  * Scope contract (documented, not hidden): absolute `http(s)://` URLs
  * without userinfo — the web-crawl regime. Other schemes are not
  * canonicalized away; they are what [[keepUrl]] filters out.
  *
  * Canonical form: lowercase scheme and host, `www.` prefix stripped,
  * default port stripped (`:80` http / `:443` https), fragment stripped,
  * trailing slashes on the path stripped (so `/a/` ≡ `/a`, and a bare
  * host ≡ host + `/`), tracking query parameters removed (`utm_*`,
  * `fbclid`, `gclid`, `msclkid`, `mc_eid`, `igshid`, `ref`), remaining
  * parameters SORTED so parameter order never splits a duplicate group.
  */
object Url {

  /** Query parameters that never identify content (click/campaign
    * trackers) — dropped by [[canonicalize]]. Anchored, RE2-safe.
    *
    * Case-INSENSITIVE on the key (`(?i)` — RE2 and java.util.regex agree):
    * trackers are appended by third-party snippets whose casing varies
    * (`UTM_SOURCE=` appears in the wild), and a surviving case-variant
    * tracker would split one page into several canonical URLs — the
    * failure mode canonicalization exists to prevent. Param VALUES are
    * untouched (the pattern stops at `=`).
    *
    * `ref` trade-off (documented choice, same spirit as the userinfo
    * scope contract above): `ref`/`ref_src` style referral tags are the
    * most common non-`utm_` tracker, so it is stripped — accepting that
    * on the minority of sites where `ref` SELECTS content (some forums,
    * some storefront filters) distinct pages canonicalize identically
    * and downstream URL-level dedup keeps only one. A crawl that targets
    * such a site should canonicalize with a site-specific pattern; the
    * default optimizes for the common case where keeping `ref` splits
    * duplicate groups by referrer. UrlSpec pins both behaviors. */
  val TrackingParamPattern: String =
    "(?i)^(utm_[a-z0-9]+|fbclid|gclid|msclkid|mc_eid|igshid|ref)="

  /** Resource extensions that are not documents (the C4-style asset
    * drop). Case-insensitive via lowercased path. */
  val BlockedExtensionPattern: String =
    "\\.(css|js|mjs|png|jpe?g|gif|ico|svg|webp|woff2?|ttf|mp4|mp3|zip|gz|exe)$"

  private def stripFragment(url: Column): Column =
    regexp_replace(url, "#.*", "")

  /** Lowercased scheme, or '' when the URL is not absolute. */
  def scheme(url: Column): Column =
    lower(regexp_extract(stripFragment(url), "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))

  /** scheme://host[:port]... minus the scheme, '' when not absolute. */
  private def afterScheme(url: Column): Column = {
    val u = stripFragment(url)
    when(scheme(url) === "", lit(""))
      .otherwise(regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://", ""))
  }

  /** Lowercased host with `www.` and the scheme-default port stripped. */
  def host(url: Column): Column = {
    val hp = lower(regexp_extract(afterScheme(url), "^([^/?]*)", 1))
    val noWww = regexp_replace(hp, "^www\\.", "")
    val s = scheme(url)
    when(s === "http", regexp_replace(noWww, ":80$", ""))
      .when(s === "https", regexp_replace(noWww, ":443$", ""))
      .otherwise(noWww)
  }

  /** Path with trailing slashes stripped ('' for the bare host). Not
    * lowercased: paths are case-significant, unlike hosts. */
  def path(url: Column): Column = {
    val pq = regexp_replace(afterScheme(url), "^[^/?]*", "")
    regexp_replace(regexp_extract(pq, "^([^?]*)", 1), "/+$", "")
  }

  /** Canonical query string: tracking params dropped, the rest sorted
    * and re-joined; '' when nothing survives. */
  def canonicalQuery(url: Column): Column = {
    val q = regexp_extract(stripFragment(url), "\\?(.*)$", 1)
    array_join(array_sort(filter(split(q, "&"),
      p => p =!= "" && !p.rlike(TrackingParamPattern))), "&")
  }

  /** The canonical URL (see the object doc for the exact form). Rows
    * that are not absolute http(s)-style URLs canonicalize to '' —
    * [[keepUrl]] rejects them anyway. */
  def canonicalize(url: Column): Column = {
    val q = canonicalQuery(url)
    when(scheme(url) === "", lit(""))
      .otherwise(concat(scheme(url), lit("://"), host(url), path(url),
        when(q === "", lit("")).otherwise(concat(lit("?"), q))))
  }

  /** Registered-domain ("site") extraction from [[host]] with the
    * standard two-level-suffix heuristic: `a.b.co.uk` → `b.co.uk`,
    * `a.b.org` → `b.org`. The full public-suffix list is a data file,
    * not an algorithm — [[registeredDomainWithSuffixes]] /
    * [[markWithPsl]] are the table-driven production variants; this
    * heuristic is the NO-DATA fallback (and the two agree wherever the
    * heuristic is right — UrlSpec pins the divergence cases). */
  val SecondLevelSuffixes: Seq[String] =
    Seq("co", "com", "net", "org", "gov", "ac", "edu")

  def registeredDomain(url: Column): Column =
    registeredDomainFromHost(host(url))

  /** The heuristic over an already-extracted host (the [[mark]] path —
    * the host comes from the compiled [[parts]] kernel there). */
  def registeredDomainFromHost(h: Column): Column = {
    val l = split(h, "\\.")
    val n = size(l)
    when(n >= 3 && element_at(l, n - 1).isInCollection(SecondLevelSuffixes),
        concat_ws(".", slice(l, n - 2, lit(3))))
      .otherwise(concat_ws(".", slice(l, greatest(n - 1, lit(1)), lit(2))))
  }

  /** One-pass compiled URL decomposition (`graft_url_parts` —
    * `struct(scheme, host, path, query)`): the production twin of the
    * regex Columns above, which chain ~10 java-regex replaces per row
    * and hit the per-JVM replaceAll throughput wall (see
    * [[graft.functions.Hashing.urlParts]] for exact semantics and the
    * measurement). The regex Columns STAY as the transparent forms the
    * SQL oracles replay; [[mark]]/[[markWithPsl]] derive everything
    * from one kernel evaluation per row. */
  def parts(url: Column): Column =
    graft.functions.NativeFunctions.graft_url_parts(url)

  /** Compiled canonical URL — [[canonicalize]]'s production twin riding
    * ONE `graft_url_parts` kernel evaluation (the [[mark]] path's form;
    * the regex [[canonicalize]] stays as the oracle-replayable twin).
    * Used by [[graft.ops.Incremental.urlState]] for cross-run URL-level
    * dedup keys. */
  def canonicalCompiled(url: Column): Column = canonicalFromParts(parts(url))

  private def canonicalFromParts(p: Column): Column =
    when(p.getField("scheme") === "", lit(""))
      .otherwise(concat(p.getField("scheme"), lit("://"), p.getField("host"),
        p.getField("path"),
        when(p.getField("query") === "", lit(""))
          .otherwise(concat(lit("?"), p.getField("query")))))

  /** Parsed public-suffix rule set, partitioned by rule class and label
    * count. Partitioning by LENGTH means each rule's literal appears in
    * exactly ONE `InSet` probe (the previous plain-only implementation
    * probed the whole list at every candidate length — 4× literal
    * duplication in the compiled plan for zero semantic gain: a k-label
    * candidate string can only ever equal a k-label rule). */
  final case class PslRules(
      plain: Map[Int, Seq[String]],
      wildcardBases: Map[Int, Seq[String]],
      exceptions: Map[Int, Seq[String]]) {
    def ruleCount: Int =
      (plain.values ++ wildcardBases.values ++ exceptions.values).map(_.size).sum
  }

  object PslRules {
    /** Parses raw publicsuffix.org-style rules: plain suffixes, wildcard
      * rules (`*.ck` — the `*` matches exactly one label, leftmost only,
      * per the PSL spec), exception rules (`!www.ck` — concrete, no
      * wildcard). Comments (`// …`), blanks, and nulls are dropped; rules
      * are trimmed + lowercased so a mixed-case rule can never silently
      * fail to match the lowercased host (ADVICE r12). */
    def compile(raw: Seq[String]): PslRules = {
      val cleaned = raw.iterator
        .filter(_ != null)
        .map(_.trim.toLowerCase)
        .filter(r => r.nonEmpty && !r.startsWith("//"))
        .toVector.distinct
      val (exc, rest) = cleaned.partition(_.startsWith("!"))
      val (wild, plain) = rest.partition(_.startsWith("*."))
      val excBodies = exc.map(_.stripPrefix("!"))
      val wildBases = wild.map(_.stripPrefix("*."))
      (excBodies ++ wildBases ++ plain).foreach { body =>
        require(body.nonEmpty && !body.contains("*"),
          s"PSL rule body '$body': wildcards are only supported as the " +
            "leftmost label (*.suffix), and exception rules must be concrete")
      }
      def byLen(rs: Seq[String]): Map[Int, Seq[String]] =
        rs.groupBy(_.count(_ == '.') + 1)
      PslRules(byLen(plain), byLen(wildBases), byLen(excBodies))
    }
  }

  /** Registered-domain extraction against a REAL public-suffix list —
    * the production variant [[registeredDomain]]'s scaladoc promises,
    * implementing the FULL publicsuffix.org algorithm: exception rules
    * (`!www.ck`) beat wildcard rules (`*.ck`) beat plain rules, and
    * within wildcard/plain the rule with the most labels prevails. On a
    * plain/wildcard hit the registered domain is the matched public
    * suffix plus ONE more label; on an exception hit it is the exception
    * rule itself (`!www.ck` names the registrable domain directly, so
    * `a.www.ck` → `www.ck`). A host that IS a public suffix, or that
    * matches nothing, falls back to the last-two-labels default — the
    * PSL's own prevailing `*` rule, and [[registeredDomain]]'s
    * `.otherwise` branch (the PSL proper says such a host has NO
    * registered domain; this engine returns the best-effort short
    * grouping instead of null, the documented convention UrlSpec pins) —
    * so the two variants agree everywhere the heuristic is right and
    * differ only where the heuristic mis-groups (UrlSpec pins the
    * documented divergence cases: `foo.go.jp`, `user.github.io`,
    * `school.k12.ma.us`, and the PSL test-vector `*.ck`/`!www.ck` and
    * `*.kobe.jp`/`!city.kobe.jp` families).
    *
    * Scale shape — why a compiled set, not a join: a join-based
    * longest-match needs candidate explode + a per-row re-group, putting
    * a shuffle on the CRAWL side for a lookup table of ~10^4 rows. The
    * PSL is model-sized (the real list is ~9k active rules), so it rides
    * the plan as Catalyst `InSet` predicates — hash-set probes, O(1) per
    * candidate, zero shuffle, same one-map-stage plan as the heuristic;
    * branch depth derives from the label counts actually present in the
    * rule set, and each rule literal appears in exactly one probe.
    * [[markWithPsl]] is the table-driven seam that feeds this from a
    * DataFrame (the [[filterByBlocklist]]-style entry point). */
  def registeredDomainWithSuffixes(url: Column, suffixes: Seq[String]): Column =
    registeredDomainWithSuffixesFromHost(host(url), suffixes)

  /** Full-PSL longest-match over an already-extracted host (the
    * [[markWithPsl]] path — host from the compiled [[parts]] kernel).
    * The `when` chains rely on Catalyst's short-circuiting `And`: the
    * `n > len` guard runs first, so the slice expressions never see a
    * non-positive start index. */
  def registeredDomainWithSuffixesFromHost(h: Column,
      suffixes: Seq[String]): Column = {
    val rules = PslRules.compile(suffixes)
    require(rules.ruleCount > 0, "public-suffix list must be non-empty")
    val l = split(h, "\\.")
    val n = size(l)
    def lastK(k: Int): Column = concat_ws(".", slice(l, n - k + 1, lit(k)))
    val fallback = concat_ws(".", slice(l, greatest(n - 1, lit(1)), lit(2)))
    // plain + wildcard by EFFECTIVE label count (a wildcard rule *.X is
    // |X|+1 labels long); ascending foldLeft nests so the longest rule
    // is the outermost branch — longest match wins
    val lens = (rules.plain.keySet ++ rules.wildcardBases.keySet.map(_ + 1))
      .toSeq.sorted
    val base = lens.foldLeft(fallback) { (elseCol, len) =>
      val hits =
        rules.plain.get(len).map(ss => lastK(len).isInCollection(ss)).toSeq ++
        // the * consumes the len-th label from the right (any value);
        // the base must equal the len-1 trailing labels
        rules.wildcardBases.get(len - 1)
          .map(ss => lastK(len - 1).isInCollection(ss)).toSeq
      when(n > len && hits.reduce(_ || _), lastK(len + 1))
        .otherwise(elseCol)
    }
    // exception rules prevail over everything, longest first; the rule
    // itself IS the registrable domain (n >= j: the host may equal it)
    rules.exceptions.keys.toSeq.sorted.foldLeft(base) { (elseCol, j) =>
      when(n >= j && lastK(j).isInCollection(rules.exceptions(j)), lastK(j))
        .otherwise(elseCol)
    }
  }

  /** [[mark]] with PSL-backed registered domains: `psl` is a DataFrame
    * with a `suffix` column (one publicsuffix.org rule per row — plain,
    * `*.wildcard`, or `!exception`; comments and blanks are tolerated
    * and dropped, casing is normalized, so the raw list file loads
    * as-is). The list is collected ONCE (model-sized, guarded — the
    * [[Curation.mixtureBalance]] driver-table pattern: fail loudly,
    * never OOM) and compiled into the plan; the crawl side stays a
    * single map stage with zero shuffle.
    *
    * `maxSuffixes` defaults to real-PSL scale (~9k active rules, 50k
    * headroom): every rule is one string literal in the compiled plan,
    * so the ceiling is a PLAN-memory guard, not a data limit — callers
    * with a genuinely bigger table raise it explicitly, accepting the
    * plan size. */
  def markWithPsl(df: DataFrame, urlCol: String, psl: DataFrame,
      blockedDomains: Seq[String] = Nil,
      maxSuffixes: Int = 50000): DataFrame = {
    require(psl.columns.contains("suffix"),
      "public-suffix list must have a 'suffix' column")
    Sampling.requireFreshColumns(df, "Url.markWithPsl",
      "canonical_url", "url_domain", "url_keep", "__url_parts")
    // sanitize at the collect (ADVICE r12): a NULL suffix row would land
    // as a null literal inside the InSet probe (null-propagating compare
    // silently degrades that branch), and a non-lowercase rule could
    // never match the lowercased host
    val suffixes = psl
      .select(lower(trim(col("suffix").cast("string"))).as("suffix"))
      .filter(col("suffix").isNotNull && col("suffix") =!= "")
      .distinct()
      .limit(maxSuffixes + 1)
      .collect().map(_.getString(0)).toSeq
    require(suffixes.size <= maxSuffixes,
      s"markWithPsl: more than $maxSuffixes suffix rules — the list is " +
        "compiled into the plan; raise maxSuffixes only with driver/plan " +
        "memory to match")
    val p = col("__url_parts")
    val dom = registeredDomainWithSuffixesFromHost(p.getField("host"), suffixes)
    val keepBase = p.getField("scheme").isInCollection(Seq("http", "https")) &&
      !lower(p.getField("path")).rlike(BlockedExtensionPattern)
    val keep = if (blockedDomains.isEmpty) keepBase
      else keepBase && !dom.isInCollection(blockedDomains)
    df.withColumn("__url_parts", parts(col(urlCol)))
      .withColumn("canonical_url", canonicalFromParts(p))
      .withColumn("url_domain", dom)
      .withColumn("url_keep", keep)
      .drop("__url_parts")
  }

  /** Load a raw publicsuffix.org data file (the `public_suffix_list.dat`
    * format: one rule per line, `//` comments, blank separators, `*.`
    * wildcards, `!` exceptions) into the `suffix`-column DataFrame
    * [[markWithPsl]] consumes. Comment/blank dropping happens again at
    * compile time ([[PslRules.compile]]) — this filter just keeps the
    * collected driver list at rule-count size. */
  def loadPslFile(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.text(path)
      .select(trim(col("value")).as("suffix"))
      .filter(col("suffix") =!= "" && !col("suffix").startsWith("//"))

  /** The C4/RefinedWeb keep predicate: absolute http(s), not an asset
    * extension, registered domain not blocklisted. `blockedDomains` is a
    * LITERAL list (rides the plan; fine up to ~10^4 entries) — for a
    * crawl-scale blocklist use [[filterByBlocklist]]. */
  def keepUrl(url: Column, blockedDomains: Seq[String] = Nil): Column = {
    val base = scheme(url).isInCollection(Seq("http", "https")) &&
      !lower(path(url)).rlike(BlockedExtensionPattern)
    if (blockedDomains.isEmpty) base
    else base && !registeredDomain(url).isInCollection(blockedDomains)
  }

  /** Annotate rows with the canonical URL, registered domain, and the
    * keep verdict — one map stage, no shuffle; filtering and URL-level
    * dedup ([[Dedup.exactDedupNormalizedByFingerprint]] semantics apply:
    * group by `xxhash64(canonical_url)` at crawl scale) compose on top. */
  def mark(df: DataFrame, urlCol: String,
      blockedDomains: Seq[String] = Nil): DataFrame = {
    Sampling.requireFreshColumns(df, "Url.mark",
      "canonical_url", "url_domain", "url_keep", "__url_parts")
    val p = col("__url_parts")
    val dom = registeredDomainFromHost(p.getField("host"))
    val keepBase = p.getField("scheme").isInCollection(Seq("http", "https")) &&
      !lower(p.getField("path")).rlike(BlockedExtensionPattern)
    val keep = if (blockedDomains.isEmpty) keepBase
      else keepBase && !dom.isInCollection(blockedDomains)
    df.withColumn("__url_parts", parts(col(urlCol)))
      .withColumn("canonical_url", canonicalFromParts(p))
      .withColumn("url_domain", dom)
      .withColumn("url_keep", keep)
      .drop("__url_parts")
  }

  /** Blocklist as a TABLE (column `domain`): left-anti join on the
    * registered domain. Blocklists are ~10^5–10^7 rows — broadcast-sized
    * next to a 100 TB crawl, and Catalyst/AQE broadcasts them; the crawl
    * side never shuffles. */
  def filterByBlocklist(df: DataFrame, urlCol: String,
      blocked: DataFrame): DataFrame = {
    require(blocked.columns.contains("domain"),
      "blocklist must have a 'domain' column")
    df.withColumn("url_domain",
        registeredDomainFromHost(parts(col(urlCol)).getField("host")))
      .join(broadcast(blocked.select(col("domain").as("url_domain")).distinct()),
        Seq("url_domain"), "left_anti")
  }
}
