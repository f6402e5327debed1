package graft.queries

import graft.Tables._
import graft.ops.{Bloom, Curation, Dedup, Hll, Html, Kmv, Multimodal, Sampling, Similarity, TextOps, Url}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** LLM-training-data pipeline operators (dedup, similarity search, text
  * analysis, multimodal plumbing) exercised on the driver's `documents` /
  * `embeddings` / `events` tables.
  *
  * Every query is oracle-checked with engine-deterministic values:
  * integer arithmetic for text metrics, sequential double folds for vector
  * math (verified bit-exact vs DuckDB's list_dot_product), fixed-point
  * accumulation for centroids. Detectors whose internals are not
  * SQL-expressible (banded MinHash, SimHash, IVF) emit engine-independent
  * VERDICT columns (planted-recall booleans, counts) that the oracle
  * asserts, so a detection regression still hash-mismatches; ScalaTest
  * additionally pins detection quality with planted duplicates.
  */
object DataOpsQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Per-run temp dirs for the cross-run-state queries (q86, q136, q138,
    * q142–q148): unique per invocation (two concurrent sessions must never
    * clobber each other's state mid-query), all deleted by ONE JVM-exit
    * hook — registering a hook per invocation would accumulate hooks
    * across bench laps. Deletion is exit-time, not end-of-query, because
    * the handed-off state ([[graft.etl.Zones.materialize]]) is read
    * LAZILY when the caller materializes the result. */
  private object TempState {
    private val dirs =
      new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach { d =>
        try java.nio.file.Files.walk(d)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        catch { case _: Throwable => () }
      }
    }))
    def dir(prefix: String): java.nio.file.Path = {
      val d = java.nio.file.Files.createTempDirectory(prefix)
      dirs.add(d)
      d
    }
  }

  /** The two-run story of the cross-run-state queries: run 1 drops `day1`
    * against the `empty` state; day 1's `state1` (built after run 1) is
    * handed off to a fresh [[TempState]] path with
    * [[graft.etl.Zones.materialize]]; run 2 drops `day2` against the
    * read-back. `drop(batch, idCol, state)` is the query's cross-run drop.
    * The survivors come back as (`idCol` as doc_id, day 0/1), through
    * `annotate`, ordered by doc_id. */
  private def twoRuns(stateDir: String, idCol: String, day1: DataFrame,
      day2: DataFrame, empty: DataFrame, state1: => DataFrame,
      drop: (DataFrame, String, DataFrame) => DataFrame,
      annotate: DataFrame => DataFrame = identity): DataFrame = {
    val statePath = TempState.dir(stateDir).resolve("state.parquet").toString
    val run1 = drop(day1, idCol, empty)
    val run2 = drop(day2, idCol, graft.etl.Zones.materialize(state1, statePath))
    // a doc_id id is not re-aliased: the alias would stay in the plan
    def survivors(run: DataFrame, day: Int) = run.select(
      if (idCol == "doc_id") col(idCol) else col(idCol).as("doc_id"), lit(day).as("day"))
    annotate(survivors(run1, 0).unionByName(survivors(run2, 1))).orderBy("doc_id")
  }

  /** The media queries' two days over `docs` (one `doc_id` column): day 1
    * is the even ids, rendered by `fresh`; day 2 is the odd ids — those
    * with `id % 7 == 3` are new media (`fresh`), every other one
    * re-encodes base `id − 1` (`reencode` over a `base` column, rendered
    * at `idOffset = 1` so the copy keeps the odd id). */
  private def mediaDays(docs: DataFrame, fresh: DataFrame => DataFrame,
      reencode: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val d = col("doc_id")
    val day1 = fresh(docs.filter(pmod(d, lit(2L)) === 0L))
    val olds = reencode(docs.filter(pmod(d, lit(2L)) === 1L && pmod(d, lit(7L)) =!= 3L)
      .select((d - 1L).as("base")))
    val news = fresh(docs.filter(pmod(d, lit(2L)) === 1L && pmod(d, lit(7L)) === 3L))
    (day1, olds.unionByName(news))
  }

  /** Embedding dimensionality of the driver's `embeddings` table (fixed 64
    * at every scale factor) — needed statically so the LSH oracle SQL can
    * embed the hyperplane literals. */
  val EmbeddingDim = 64

  /** DuckDB spelling of [[graft.ops.Similarity.hyperplaneSignature]]: the
    * sign bit of each plane-dot, packed MSB-first (plane 0 highest), with
    * the plane constants inlined as double literals. Scala's Double.toString
    * round-trips exactly, so the oracle sees bit-identical planes. */
  private def sqlHyperplaneSig(vecExpr: String, dim: Int, bits: Int): String =
    Similarity.hyperplanes(dim, bits).zipWithIndex.map { case (p, i) =>
      val weight = 1L << (bits - 1 - i)
      s"(CASE WHEN list_dot_product($vecExpr, ${p.mkString("[", ",", "]")}) >= 0 THEN $weight ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB spelling of [[graft.ops.Similarity.cosine]] (list_dot_product
    * is bit-exact vs Spark's sequential zip_with/aggregate fold — q26). */
  private def sqlCosine(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  // ---------------------------------------------------------------- oracle

  /** Exact dedup via hash-groupBy (keep min id per distinct text), joined
    * back for per-source canonical counts. */
  val q21DedupExact: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val keep = Dedup.exactDedup(docs, "text", "doc_id")
      .select(col("keep_id").as("doc_id"))
    docs.join(keep, Seq("doc_id"), "left_semi")
      .groupBy("source")
      .agg(count(lit(1)).as("n_canonical"))
      .orderBy("source")
  }

  /** Token counting + doc-length stats per language (all-integer math). */
  val q22TokenStats: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("sum_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        sum(TextOps.meanTokenLenX100(col("text"))).as("sum_mean_tok_len_x100"))
      .orderBy("lang")
  }

  /** Quality scoring per source (integer heuristics, SQL-mirrored). */
  val q23Quality: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    docs.select(col("source"), TextOps.qualityScore(col("text")).as("score"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score").cast("long")).as("sum_score"),
        sum(when(col("score") >= 70, 1L).otherwise(0L)).as("n_high_quality"))
      .orderBy("source")
  }

  /** Language-ID heuristic vs labeled lang: confusion-matrix counts. */
  val q24LangId: Q = (s, dir) => {
    load(s, dir, "documents")
      .select(col("lang"), TextOps.langGuess(col("text")).as("guess"))
      .groupBy("lang", "guess").agg(count(lit(1)).as("n"))
      .orderBy("lang", "guess")
  }

  /** Multimodal metadata pass: binary payload stats (octet length + MD5)
    * without decoding — pure codegen expressions. */
  val q25BinaryMeta: Q = (s, dir) => {
    val media = Multimodal.asMediaTable(load(s, dir, "documents"), "doc_id", "text")
    Multimodal.mediaStats(media)
      .select("media_id", "n_bytes", "checksum")
      .orderBy("media_id")
  }

  /** Brute-force cosine top-k against the vec_id=0 embedding (the exact
    * baseline: scan → score → TakeOrderedAndProject). */
  val q26AnnBrute: Q = (s, dir) => {
    val emb = load(s, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, 10)
  }

  /** Array explode (Generate) over embeddings: per-label element stats.
    * min/max are order-independent → deterministic on floats. */
  val q27VectorExplode: Q = (s, dir) => {
    load(s, dir, "embeddings")
      .select(col("label"), explode(col("embedding")).as("val"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vals"), min(col("val")).as("min_val"),
        max(col("val")).as("max_val"))
      .orderBy("label")
  }

  /** JSON extraction from the events.props payload (§2.8 F7). */
  val q29EventsJson: Q = (s, dir) => {
    load(s, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k").cast("long")).as("sum_k"),
        lsum(col("value")).as("sum_value"))
      .orderBy("k_mod")
  }

  val oracles: Map[String, String] = Map(
    "q21_dedup_exact" ->
      """WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text)
        |SELECT source, COUNT(*) AS n_canonical FROM documents
        |WHERE doc_id IN (SELECT doc_id FROM keep)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q22_token_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |CAST(SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |  ELSE LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 END) AS BIGINT) AS sum_tokens,
        |CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |CAST(SUM(CASE WHEN LENGTH(TRIM(text)) = 0 OR LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 = 0 THEN 0
        |  ELSE (CAST(LENGTH(REPLACE(TRIM(text), ' ', '')) AS BIGINT) * 100)
        |       // (LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1) END) AS BIGINT) AS sum_mean_tok_len_x100
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q23_quality" ->
      """WITH scored AS (
        |  SELECT source,
        |    (CASE WHEN ntok BETWEEN 20 AND 1000 THEN 40 WHEN ntok BETWEEN 5 AND 19 THEN 20 ELSE 0 END)
        |    + (CASE WHEN nstop * 10 >= ntok THEN 30 WHEN nstop > 0 THEN 15 ELSE 0 END)
        |    + (CASE WHEN npunct * 4 <= nlen THEN 30 ELSE 0 END) AS score
        |  FROM (
        |    SELECT source, LENGTH(text) AS nlen,
        |      CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |        ELSE LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 END AS ntok,
        |      LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'),
        |        w -> w IN ('the','a','an','and','of','to','in','is','it','for'))) AS nstop,
        |      LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[\p{P}\p{S}]', '', 'g')) AS npunct
        |    FROM documents))
        |SELECT source, COUNT(*) AS n_docs, CAST(SUM(score) AS BIGINT) AS sum_score,
        |CAST(SUM(CASE WHEN score >= 70 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality
        |FROM scored GROUP BY source ORDER BY source""".stripMargin,
    "q24_langid" ->
      """SELECT lang,
        |CASE WHEN regexp_matches(text, '\b(the|and|of|is)\b') THEN 'en'
        |  WHEN regexp_matches(text, '\b(der|und|die|das)\b') THEN 'de'
        |  WHEN regexp_matches(text, '\b(le|la|et|les)\b') THEN 'fr'
        |  WHEN regexp_matches(text, '\b(el|los|las|una)\b') THEN 'es'
        |  ELSE 'und' END AS guess,
        |COUNT(*) AS n
        |FROM documents GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q25_binary_meta" ->
      """SELECT doc_id AS media_id,
        |CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
        |MD5(text) AS checksum
        |FROM documents ORDER BY media_id""".stripMargin,
    "q26_ann_brute" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |list_dot_product(CAST(embedding AS DOUBLE[]), qv)
        |  / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(qv, qv))) AS cosine_sim
        |FROM embeddings, q
        |ORDER BY cosine_sim DESC, vec_id ASC LIMIT 10""".stripMargin,
    "q27_vector_explode" ->
      """SELECT label, COUNT(*) AS n_vals, MIN(val) AS min_val, MAX(val) AS max_val
        |FROM (SELECT label, UNNEST(embedding) AS val FROM embeddings)
        |GROUP BY label ORDER BY label""".stripMargin,
    "q29_events_json" ->
      s"""SELECT CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT) % 10 AS k_mod,
         |COUNT(*) AS n,
         |CAST(SUM(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT)) AS BIGINT) AS sum_k,
         |${sqlLsum("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q42_ngram_jaccard" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' twin' AS text FROM documents
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM base
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) >= 3
        |      THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
        |      ELSE [array_to_string(t, ' ')] END) AS sh
        |  FROM toks
        |), bk0 AS (
        |  SELECT doc_id, sh, list_aggregate(sh, 'min') AS bucket FROM sh
        |), ok AS (
        |  SELECT bucket FROM bk0 GROUP BY bucket HAVING COUNT(*) > 1 AND COUNT(*) <= 1000
        |), bk AS (SELECT bk0.* FROM bk0 JOIN ok USING (bucket))
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "q43_ann_lsh" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings)
         |SELECT vec_id, ${sqlCosine("vv", "qv")} AS cosine_sim
         |FROM v, q
         |WHERE ${sqlHyperplaneSig("vv", EmbeddingDim, 6)} = ${sqlHyperplaneSig("qv", EmbeddingDim, 6)}
         |ORDER BY cosine_sim DESC, vec_id ASC LIMIT 10""".stripMargin,
    "q44_embed_neardup" ->
      s"""WITH base AS (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), sigs AS (
         |  SELECT id, v, ${sqlHyperplaneSig("v", EmbeddingDim, 8)} AS bucket FROM base
         |), ok AS (
         |  SELECT bucket FROM sigs GROUP BY bucket HAVING COUNT(*) > 1 AND COUNT(*) <= 4096
         |), pr AS (SELECT sigs.* FROM sigs JOIN ok USING (bucket))
         |SELECT id_a, id_b, cosine_sim FROM (
         |  SELECT a.id AS id_a, b.id AS id_b, ${sqlCosine("a.v", "b.v")} AS cosine_sim
         |  FROM pr a JOIN pr b ON a.bucket = b.bucket AND a.id < b.id)
         |WHERE cosine_sim >= 0.99
         |ORDER BY id_a, id_b""".stripMargin,
    "q91_pq_codes" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors, TRUE AS codes_ok,
        |TRUE AS recon_improves, TRUE AS adc_ok FROM embeddings""".stripMargin,
    "q92_ivf_pq" ->
      """SELECT CAST(COUNT(*) + 1 AS BIGINT) AS n_vectors, TRUE AS k_ok,
        |TRUE AS planted_found, TRUE AS top1_is_twin FROM embeddings""".stripMargin,
    // full DSIR replay: hashed unigram+bigram buckets (rolling hash mod
    // 2^31-1 then mod 1024), add-one smoothing, ln ratios in 1e-8 units.
    // Every scored gram's bucket is occupied on the raw side (raw = the
    // scoring corpus), so the join needs no unseen-bucket default.
    "q93_dsir_select" ->
      """WITH t AS (SELECT doc_id, lang,
        |  regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |uni AS (SELECT doc_id, lang, UNNEST(tk) AS g FROM t),
        |bi AS (SELECT doc_id, lang, l || ' ' || r AS g FROM (
        |  SELECT doc_id, lang, tok AS l,
        |    LEAD(tok) OVER (PARTITION BY doc_id ORDER BY i) AS r
        |  FROM (SELECT doc_id, lang, UNNEST(tk) AS tok,
        |        UNNEST(range(1, len(tk) + 1)) AS i FROM t))
        |  WHERE r IS NOT NULL),
        |g AS (SELECT doc_id, lang,
        |  list_reduce([CAST(ascii(c) AS BIGINT) FOR c IN regexp_split_to_array(g, '')],
        |    (h, c) -> (h * 31 + c) % 2147483647) % 1024 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |tc AS (SELECT b, COUNT(*) AS ct FROM g WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT b, COUNT(*) AS cr FROM g GROUP BY 1),
        |tot AS (SELECT (SELECT SUM(ct) FROM tc) AS nt,
        |               (SELECT SUM(cr) FROM rc) AS nr),
        |w AS (SELECT rc.b,
        |  CAST(ROUND(ROUND(
        |    LN(CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE) / CAST(nt + 1024 AS DOUBLE))
        |    - LN(CAST(rc.cr + 1 AS DOUBLE) / CAST(nr + 1024 AS DOUBLE)), 8) * 1e8, 0) AS BIGINT) AS w
        |  FROM rc LEFT JOIN tc ON rc.b = tc.b, tot)
        |SELECT g.doc_id, CAST(SUM(w.w) AS BIGINT) AS weight_x1e8
        |FROM g JOIN w ON g.b = w.b GROUP BY 1
        |ORDER BY weight_x1e8 DESC, doc_id LIMIT 50""".stripMargin,
    // q93's weight pipeline + the Gumbel-max resampling key: seeded Knuth
    // hash h=(id*2654435761)%2^31, u=(h+1)/(2^31+1), g=-ln(-ln u) in
    // 1e-8 units
    "q97_dsir_resample" ->
      """WITH t AS (SELECT doc_id, lang,
        |  regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |uni AS (SELECT doc_id, lang, UNNEST(tk) AS g FROM t),
        |bi AS (SELECT doc_id, lang, l || ' ' || r AS g FROM (
        |  SELECT doc_id, lang, tok AS l,
        |    LEAD(tok) OVER (PARTITION BY doc_id ORDER BY i) AS r
        |  FROM (SELECT doc_id, lang, UNNEST(tk) AS tok,
        |        UNNEST(range(1, len(tk) + 1)) AS i FROM t))
        |  WHERE r IS NOT NULL),
        |g AS (SELECT doc_id, lang,
        |  list_reduce([CAST(ascii(c) AS BIGINT) FOR c IN regexp_split_to_array(g, '')],
        |    (h, c) -> (h * 31 + c) % 2147483647) % 1024 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |tc AS (SELECT b, COUNT(*) AS ct FROM g WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT b, COUNT(*) AS cr FROM g GROUP BY 1),
        |tot AS (SELECT (SELECT SUM(ct) FROM tc) AS nt,
        |               (SELECT SUM(cr) FROM rc) AS nr),
        |w AS (SELECT rc.b,
        |  CAST(ROUND(ROUND(
        |    LN(CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE) / CAST(nt + 1024 AS DOUBLE))
        |    - LN(CAST(rc.cr + 1 AS DOUBLE) / CAST(nr + 1024 AS DOUBLE)), 8) * 1e8, 0) AS BIGINT) AS w
        |  FROM rc LEFT JOIN tc ON rc.b = tc.b, tot),
        |sc AS (SELECT g.doc_id, CAST(SUM(w.w) AS BIGINT) AS weight_x1e8
        |  FROM g JOIN w ON g.b = w.b GROUP BY 1),
        |k AS (SELECT doc_id, weight_x1e8,
        |  CAST(ROUND(ROUND(-LN(-LN(
        |    CAST((doc_id * 2654435761) % 2147483648 + 1 AS DOUBLE) / 2147483649)),
        |    8) * 1e8, 0) AS BIGINT) AS gumbel_x1e8
        |  FROM sc)
        |SELECT doc_id, weight_x1e8, gumbel_x1e8,
        |  weight_x1e8 + gumbel_x1e8 AS key_x1e8
        |FROM k ORDER BY key_x1e8 DESC, doc_id LIMIT 50""".stripMargin,
    // mixture-rebalance replay: K = min feasible total, per-domain
    // Bernoulli via the same Knuth hash, HUGEINT cross-multiply instead
    // of Spark's precomputed BigInt thresholds (equivalent:
    // h < thr ⟺ h·10000·n_d < t_d·K·2^31)
    "q98_mixture_balance" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        |tgt AS (SELECT * FROM (VALUES ('en', 4000), ('de', 1500), ('es', 1500),
        |  ('fr', 1500), ('zh', 1500)) t(lang, bp)),
        |k AS (SELECT MIN(c.n * 10000 // tgt.bp) AS k FROM c JOIN tgt USING (lang)),
        |sel AS (SELECT d.lang, (d.doc_id * 2654435761) % 2147483648 AS h
        |  FROM documents d)
        |SELECT c.lang, CAST(c.n AS BIGINT) AS n_total,
        |  CAST(COUNT(CASE WHEN CAST(s.h AS HUGEINT) * 10000 * c.n
        |    < CAST(t.bp AS HUGEINT) * k.k * 2147483648 THEN 1 END) AS BIGINT) AS n_selected
        |FROM sel s JOIN c ON s.lang = c.lang JOIN tgt t ON s.lang = t.lang, k
        |GROUP BY c.lang, c.n ORDER BY c.lang""".stripMargin,
    // graded decontamination replay: eval set = first-12-token prefixes
    // of every 97th doc, 3-token shingles as rolling-hash fingerprints,
    // per-doc distinct-shingle hit fraction in integer basis points
    "q94_overlap_score" ->
      """WITH base AS (
        |  SELECT doc_id, 'train' AS side, trim(text) AS t
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id, 'eval' AS side,
        |    array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 12), ' ') AS t
        |  FROM documents WHERE doc_id % 97 = 0),
        |tk AS (SELECT doc_id, side, regexp_split_to_array(t, '\s+') AS tk FROM base),
        |sh AS (SELECT doc_id, side, UNNEST(CASE WHEN len(tk) >= 3
        |    THEN [array_to_string(list_slice(tk, i, i + 2), ' ') FOR i IN range(1, len(tk) - 1)]
        |    ELSE [array_to_string(tk, ' ')] END) AS s FROM tk),
        |fp AS (SELECT DISTINCT doc_id, side,
        |  list_reduce([CAST(ascii(c) AS BIGINT) FOR c IN regexp_split_to_array(s, '')],
        |    (h, c) -> (h * 31 + c) % 2147483647) AS f FROM sh),
        |ev AS (SELECT DISTINCT f FROM fp WHERE side = 'eval'),
        |tr AS (SELECT doc_id, f FROM fp WHERE side = 'train')
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(COUNT(ev.f) AS BIGINT) AS n_hits,
        |  CAST(COUNT(ev.f) * 10000 // COUNT(*) AS BIGINT) AS overlap_bp
        |FROM tr LEFT JOIN ev ON tr.f = ev.f
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact set-similarity join ground truth, computed by a DIFFERENT
    // algorithm than the engine (brute-force token equi-join here vs
    // prefix-filtered candidates there) — output must match exactly,
    // which is the whole point of an exact (non-LSH) similarity join
    "q95_jaccard_join" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |sh AS (SELECT doc_id, UNNEST(CASE WHEN len(tk) >= 3
        |    THEN [array_to_string(list_slice(tk, i, i + 2), ' ') FOR i IN range(1, len(tk) - 1)]
        |    ELSE [array_to_string(tk, ' ')] END) AS s FROM t),
        |fp AS (SELECT DISTINCT doc_id, list_reduce([CAST(ascii(c) AS BIGINT) FOR c IN regexp_split_to_array(s, '')],
        |    (h, c) -> (h * 31 + c) % 2147483647) AS f FROM sh),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM fp GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        |  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(i * 10000 // (sa.n + sb.n - i) AS BIGINT) AS jaccard_bp
        |FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE i * 10000 >= 6000 * (sa.n + sb.n - i)
        |ORDER BY id_a, id_b""".stripMargin,
    // full BM25 replay: same rational rearrangement (k1=1.2, b=0.75 →
    // idf · 22·tf·T // (10·tf·T + 3·T + 9·dl·N)), HUGEINT where Spark
    // uses decimal(38,0), same 1e-8-unit idf rounding
    "q96_bm25_topk" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |d AS (SELECT doc_id, len(tk) AS dl,
        |  len(list_filter(tk, x -> x = 'vector')) AS tf0,
        |  len(list_filter(tk, x -> x = 'hash')) AS tf1,
        |  len(list_filter(tk, x -> x = 'spark')) AS tf2,
        |  len(list_filter(tk, x -> x = 'window')) AS tf3 FROM t),
        |g AS (SELECT COUNT(*) AS n, SUM(dl) AS tt,
        |  SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |  SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |  SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
        |  SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3 FROM d),
        |w AS (SELECT n, tt,
        |  CAST(ROUND(ROUND(LN(CAST(2*n+2 AS DOUBLE)/CAST(2*df0+1 AS DOUBLE)), 8) * 1e8, 0) AS BIGINT) AS w0,
        |  CAST(ROUND(ROUND(LN(CAST(2*n+2 AS DOUBLE)/CAST(2*df1+1 AS DOUBLE)), 8) * 1e8, 0) AS BIGINT) AS w1,
        |  CAST(ROUND(ROUND(LN(CAST(2*n+2 AS DOUBLE)/CAST(2*df2+1 AS DOUBLE)), 8) * 1e8, 0) AS BIGINT) AS w2,
        |  CAST(ROUND(ROUND(LN(CAST(2*n+2 AS DOUBLE)/CAST(2*df3+1 AS DOUBLE)), 8) * 1e8, 0) AS BIGINT) AS w3
        |  FROM g)
        |SELECT doc_id, CAST(
        |    (CAST(w0 AS HUGEINT) * 22 * tf0 * tt) // (CAST(tf0 AS HUGEINT) * 10 * tt + CAST(3 AS HUGEINT) * tt + CAST(dl AS HUGEINT) * 9 * n)
        |  + (CAST(w1 AS HUGEINT) * 22 * tf1 * tt) // (CAST(tf1 AS HUGEINT) * 10 * tt + CAST(3 AS HUGEINT) * tt + CAST(dl AS HUGEINT) * 9 * n)
        |  + (CAST(w2 AS HUGEINT) * 22 * tf2 * tt) // (CAST(tf2 AS HUGEINT) * 10 * tt + CAST(3 AS HUGEINT) * tt + CAST(dl AS HUGEINT) * 9 * n)
        |  + (CAST(w3 AS HUGEINT) * 22 * tf3 * tt) // (CAST(tf3 AS HUGEINT) * 10 * tt + CAST(3 AS HUGEINT) * tt + CAST(dl AS HUGEINT) * 9 * n)
        |  AS BIGINT) AS score_x1e8
        |FROM d, w
        |ORDER BY score_x1e8 DESC, doc_id LIMIT 50""".stripMargin,
    // token-budget selection ground truth by the WINDOW formulation
    // (global cumsum over (weight desc, id)) — the engine's
    // histogram-cutoff algorithm must reproduce it exactly; quality
    // score and token count replay the q68/q22 formulas
    "q99_budget_select" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    (CASE WHEN ntok BETWEEN 20 AND 1000 THEN 40 WHEN ntok BETWEEN 5 AND 19 THEN 20 ELSE 0 END)
        |    + (CASE WHEN nstop * 10 >= ntok THEN 30 WHEN nstop > 0 THEN 15 ELSE 0 END)
        |    + (CASE WHEN npunct * 4 <= nlen THEN 30 ELSE 0 END) AS weight,
        |    ntok AS n_tokens
        |  FROM (
        |    SELECT doc_id, LENGTH(text) AS nlen,
        |      CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |        ELSE LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 END AS ntok,
        |      LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'),
        |        w -> w IN ('the','a','an','and','of','to','in','is','it','for'))) AS nstop,
        |      LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[\p{P}\p{S}]', '', 'g')) AS npunct
        |    FROM documents)),
        |b AS (SELECT 3 * SUM(n_tokens) // 10 AS budget FROM d),
        |c AS (SELECT doc_id, weight, n_tokens, SUM(n_tokens) OVER (
        |  ORDER BY weight DESC, doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
        |SELECT doc_id, CAST(weight AS BIGINT) AS weight,
        |  CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM c, b WHERE cum <= budget
        |ORDER BY weight DESC, doc_id""".stripMargin,
    // embedding-quality-filter replay: exact fixed-point seed centroid
    // (q64 idiom), one IEEE division per dim, q26's bit-exact cosine —
    // raw doubles compared with NO tolerance
    "q101_embed_quality" ->
      """WITH s AS (SELECT UNNEST(embedding) AS v, UNNEST(range(1, 65)) AS i
        |  FROM embeddings WHERE label = 0),
        |c AS (SELECT i, CAST(SUM(CAST(TRUNC(CAST(v AS DOUBLE) * 1048576) AS BIGINT)) AS DOUBLE)
        |  / (COUNT(*) * 1048576) AS cv FROM s GROUP BY i),
        |cent AS (SELECT LIST(cv ORDER BY i) AS cv FROM c)
        |SELECT vec_id, list_dot_product(CAST(embedding AS DOUBLE[]), cv)
        |  / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(cv, cv))) AS cosine_sim
        |FROM embeddings, cent
        |WHERE list_dot_product(CAST(embedding AS DOUBLE[]), cv)
        |  / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(cv, cv))) >= 0.15
        |ORDER BY vec_id""".stripMargin,
    // verdict columns (q66 pattern): counts + laws computed in-engine,
    // the oracle asserts COUNT(*) and TRUE×3 — a dedup/representative
    // regression flips a boolean and hash-mismatches
    "q104_semdedup_ivf" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted, TRUE AS twin_dedup_ok,
        |TRUE AS orig_wins_ok, TRUE AS kept_bounds_ok FROM embeddings""".stripMargin,
    // exact stratified split replay: same order hash (seed 7 → rotation
    // (7·2654435761) mod 2^31 = 1401181143; Knuth → xor-shift → second
    // multiply), same per-stratum floor cuts over the ROW_NUMBER rank —
    // every (lang, split) count must match
    "q105_stratified_split" ->
      """WITH h0 AS (SELECT lang, doc_id,
        |    ((doc_id + 1401181143) % 2147483648) * 2654435761 % 2147483648 AS h0
        |  FROM documents),
        |h AS (SELECT lang, doc_id,
        |    xor(h0, h0 // 65536) * 2654435761 % 2147483648 AS hh FROM h0),
        |r AS (SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hh, doc_id) - 1 AS rk,
        |    COUNT(*) OVER (PARTITION BY lang) AS ns
        |  FROM h)
        |SELECT lang,
        |  CASE WHEN rk < ns * 8000 // 10000 THEN 'train'
        |       WHEN rk < ns * 8000 // 10000 + ns * 1000 // 10000 THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // hash-split replay: seed 3 → rotation 1520856339, then the mixed
    // chain (Knuth → xor-shift → second multiply — the round-10
    // seededKnuth: composed seeded selections must be independent),
    // band = h·10⁴ div 2³¹
    "q106_hash_split" ->
      """WITH h0 AS (SELECT doc_id,
        |    ((doc_id + 1520856339) % 2147483648) * 2654435761 % 2147483648 AS h0
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    xor(h0, h0 // 65536) * 2654435761 % 2147483648 AS hh FROM h0)
        |SELECT CASE WHEN hh * 10000 // 2147483648 < 9000
        |  THEN 'train' ELSE 'holdout' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n, MIN(doc_id) AS min_id
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    // curriculum replay with DuckDB's ACTUAL NTILE — the engine's
    // histogram-decomposed rank must reproduce it exactly
    "q107_curriculum" ->
      """WITH r AS (SELECT n_chars, doc_id,
        |    NTILE(7) OVER (ORDER BY n_chars, doc_id) AS shard
        |  FROM documents)
        |SELECT CAST(shard AS BIGINT) AS shard, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(n_chars) AS min_d, MAX(n_chars) AS max_d
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // full value replay (q26 cosine contract): same-label exclusion,
    // cosine top-5 per query by ROW_NUMBER
    "q115_hard_negatives_ivf" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |TRUE AS full_probe_exact_ok, TRUE AS k_rows_ok, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id <= 2""".stripMargin,
    "q121_corpus_profile" ->
      """WITH g AS (SELECT lang, n_chars,
        |  regexp_split_to_array(trim(text), '\s+') AS toks, text FROM documents),
        |m AS (SELECT lang, n_chars,
        |  CAST(len(toks) AS BIGINT) AS n,
        |  list_reduce([CAST(length(t) AS BIGINT) FOR t IN toks], (a, b) -> a + b) AS sumlen,
        |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hashes,
        |  CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS dots,
        |  CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS alpha,
        |  len(list_filter(toks, t -> t IN ('the','be','to','of','and','that','have','with'))) AS stops
        |  FROM g),
        |f AS (SELECT lang, n_chars, n,
        |  (n BETWEEN 50 AND 100000)
        |    AND ((CASE WHEN n = 0 THEN 0 ELSE sumlen * 100 // n END) BETWEEN 300 AND 1000)
        |    AND ((hashes + dots) * 10 <= n)
        |    AND (alpha * 5 >= n * 4)
        |    AND (stops >= 2) AS pass
        |  FROM m)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass,
        |  QUANTILE_DISC(CAST(n_chars AS DOUBLE), 0.5) AS p50_chars,
        |  TRUE AS hll_ok, TRUE AS dd50_ok
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "q120_rrf_fusion" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |d AS (SELECT doc_id, len(tk) AS dl,
        |  len(list_filter(tk, x -> x = 'vector')) AS tf0,
        |  len(list_filter(tk, x -> x = 'hash')) AS tf1,
        |  len(list_filter(tk, x -> x = 'spark')) AS tf2,
        |  len(list_filter(tk, x -> x = 'window')) AS tf3 FROM t),
        |g AS (SELECT COUNT(*) AS n, SUM(dl) AS tt,
        |  SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |  SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |  SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
        |  SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3 FROM d),
        |w AS (SELECT n, tt,
        |  CAST(ROUND(ROUND(LN(CAST(2*n+2 AS DOUBLE)/CAST(2*df0+1 AS DOUBLE)), 8) * 1e8, 0) AS BIGINT) AS w0,
        |  CAST(ROUND(ROUND(LN(CAST(2*n+2 AS DOUBLE)/CAST(2*df1+1 AS DOUBLE)), 8) * 1e8, 0) AS BIGINT) AS w1,
        |  CAST(ROUND(ROUND(LN(CAST(2*n+2 AS DOUBLE)/CAST(2*df2+1 AS DOUBLE)), 8) * 1e8, 0) AS BIGINT) AS w2,
        |  CAST(ROUND(ROUND(LN(CAST(2*n+2 AS DOUBLE)/CAST(2*df3+1 AS DOUBLE)), 8) * 1e8, 0) AS BIGINT) AS w3
        |  FROM g),
        |bs AS (SELECT doc_id,
        |    (CAST(w0 AS HUGEINT) * 22 * tf0 * tt) // (CAST(tf0 AS HUGEINT) * 10 * tt + CAST(3 AS HUGEINT) * tt + CAST(dl AS HUGEINT) * 9 * n)
        |  + (CAST(w1 AS HUGEINT) * 22 * tf1 * tt) // (CAST(tf1 AS HUGEINT) * 10 * tt + CAST(3 AS HUGEINT) * tt + CAST(dl AS HUGEINT) * 9 * n)
        |  + (CAST(w2 AS HUGEINT) * 22 * tf2 * tt) // (CAST(tf2 AS HUGEINT) * 10 * tt + CAST(3 AS HUGEINT) * tt + CAST(dl AS HUGEINT) * 9 * n)
        |  + (CAST(w3 AS HUGEINT) * 22 * tf3 * tt) // (CAST(tf3 AS HUGEINT) * 10 * tt + CAST(3 AS HUGEINT) * tt + CAST(dl AS HUGEINT) * 9 * n)
        |  AS score FROM d, w),
        |br AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
        |  FROM bs QUALIFY rk <= 50),
        |qr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents QUALIFY rk <= 50),
        |u AS (SELECT doc_id, 1000000000000 // (60 + rk) AS rcp FROM br
        |  UNION ALL SELECT doc_id, 1000000000000 // (60 + rk) FROM qr)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_systems,
        |  CAST(SUM(rcp) AS BIGINT) AS rrf_x1e12
        |FROM u GROUP BY 1 ORDER BY rrf_x1e12 DESC, doc_id LIMIT 20""".stripMargin,
    "q118_temperature_mix" ->
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) // 2 AS budget FROM documents),
        |q AS (SELECT lang, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0) AS BIGINT) AS wq
        |  FROM c),
        |s AS (SELECT SUM(CAST(wq AS HUGEINT)) AS sw FROM q),
        |b AS (SELECT lang, n, CAST(
        |    LEAST(CAST(n AS HUGEINT), CAST(budget AS HUGEINT) * wq // sw)
        |      * 10000 // n AS BIGINT) AS keep_bp
        |  FROM q, s, tot),
        |k AS (SELECT d.lang, d.doc_id, b.keep_bp
        |  FROM documents d JOIN b ON d.lang = b.lang
        |  WHERE ((d.doc_id * 2654435761) % 2147483648) * 10000
        |    < b.keep_bp * 2147483648)
        |SELECT lang, keep_bp, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM k GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q108_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
        |    label AS ql FROM embeddings WHERE vec_id <= 2),
        |s AS (SELECT q.query_id, e.vec_id,
        |    list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
        |      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                               CAST(e.embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(q.qv, q.qv))) AS cos
        |  FROM embeddings e, q WHERE e.label <> q.ql),
        |r AS (SELECT query_id, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM s)
        |SELECT query_id, CAST(rk AS INT) AS rk, vec_id, cos AS cosine_sim
        |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // substring-contamination replay: the q102 winnow pipeline on BOTH
    // sides (train = full docs, eval = token-slice passages), then the
    // fingerprint join with the same minShared threshold
    "q109_substring_contam" ->
      """WITH base AS (
        |  SELECT doc_id, 'train' AS side, trim(text) AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'eval' AS side,
        |    array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 5, 24), ' ') AS t
        |  FROM documents
        |  WHERE doc_id % 89 = 0
        |    AND len(regexp_split_to_array(trim(text), '\s+')) >= 24),
        |hs AS (SELECT doc_id, side, CASE WHEN len(t) >= 5
        |  THEN [list_reduce([CAST(ascii(c) AS BIGINT) FOR c IN regexp_split_to_array(substr(t, i, 5), '')],
        |         (h, c) -> (h * 31 + c) % 2147483647) FOR i IN range(1, len(t) - 3)]
        |  ELSE [list_reduce([CAST(ascii(c) AS BIGINT) FOR c IN regexp_split_to_array(t, '')],
        |         (h, c) -> (h * 31 + c) % 2147483647)] END AS hs FROM base),
        |m AS (SELECT doc_id, side, UNNEST(CASE WHEN len(hs) >= 8
        |  THEN [list_min(hs[i:i+7]) FOR i IN range(1, len(hs) - 6)]
        |  ELSE [list_min(hs)] END) AS fp FROM hs),
        |d AS (SELECT DISTINCT doc_id, side, fp FROM m),
        |j AS (SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id,
        |    COUNT(*) AS n_shared
        |  FROM d tr JOIN d ev ON tr.fp = ev.fp
        |  WHERE tr.side = 'train' AND ev.side = 'eval'
        |  GROUP BY 1, 2)
        |SELECT train_id, eval_id, CAST(n_shared AS BIGINT) AS n_shared
        |FROM j WHERE n_shared >= 3 ORDER BY 1, 2""".stripMargin,
    // time-decay sampling replay: same day bucketing (epoch-ns floor
    // div), same linear-to-floor bp schedule, same Knuth-hash membership
    "q110_decay_sample" ->
      """WITH d AS (SELECT event_id,
        |    (epoch_us(ts) * 1000) // 86400000000000 AS day FROM events),
        |mx AS (SELECT MAX(day) AS md FROM d),
        |k AS (SELECT event_id, md - day AS age_days,
        |    GREATEST(500, 10000 - 500 * (md - day)) AS keep_bp
        |  FROM d, mx
        |  WHERE (event_id * 2654435761) % 2147483648 * 10000
        |    < GREATEST(500, 10000 - 500 * (md - day)) * 2147483648)
        |SELECT age_days, keep_bp, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  MIN(event_id) AS min_id
        |FROM k GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // normalization replay: same dot fold, sqrt, per-component division;
    // list_reduce's no-init fold equals aggregate's 0.0-init fold
    // because 0.0 + x == x exactly
    "q114_normalize" ->
      """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |         CAST(embedding AS DOUBLE[]))) AS norm FROM embeddings),
        |u AS (SELECT vec_id, norm,
        |    CASE WHEN norm = 0 THEN [0.0 FOR x IN e]
        |         ELSE [x / norm FOR x IN e] END AS unit FROM n)
        |SELECT vec_id, norm, unit[1] AS u_first, unit[64] AS u_last,
        |  list_reduce(unit, (a, b) -> a + b) AS u_sum
        |FROM u ORDER BY vec_id""".stripMargin,
    // balanced-shard replay: same weight-desc rank, same snake arithmetic
    "q112_balanced_shards" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS gr
        |  FROM documents)
        |SELECT CAST(CASE WHEN (gr // 8) % 2 = 0 THEN gr % 8
        |  ELSE 7 - (gr % 8) END + 1 AS BIGINT) AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_weight
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // intra-doc span-dedup replay: same planted doubling, same 16-token
    // chunking, same rolling-hash fingerprints, same first-occurrence
    // filter — the cleaned text itself must match character-for-character
    "q111_intra_dedup" ->
      """WITH t0 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk0
        |  FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 32),
        |t AS (SELECT doc_id,
        |    array_to_string(list_slice(tk0, 1, 32), ' ') || ' ' ||
        |    array_to_string(list_slice(tk0, 1, 32), ' ') AS txt FROM t0),
        |tk AS (SELECT doc_id, regexp_split_to_array(trim(txt), '\s+') AS tk FROM t),
        |sp AS (SELECT doc_id,
        |    [array_to_string(list_slice(tk, (i-1)*16+1, least(i*16, len(tk))), ' ')
        |     FOR i IN range(1, CAST(ceil(len(tk)/16.0) AS BIGINT) + 1)] AS spans FROM tk),
        |fp AS (SELECT doc_id, spans,
        |  [list_reduce([CAST(ascii(c) AS BIGINT) FOR c IN regexp_split_to_array(s, '')],
        |     (h, c) -> (h * 31 + c) % 2147483647) FOR s IN spans] AS fps FROM sp),
        |cl AS (SELECT doc_id,
        |  array_to_string([spans[i] FOR i IN range(1, len(spans) + 1)
        |    IF list_position(fps, fps[i]) = i], ' ') AS cleaned FROM fp)
        |SELECT doc_id, cleaned,
        |  CAST(len(regexp_split_to_array(trim(cleaned), '\s+')) AS BIGINT) AS n_tokens_after
        |FROM cl ORDER BY doc_id""".stripMargin,
    // epoch-mix replay: same integer budget/epoch arithmetic in HUGEINT,
    // same Knuth-hash partial-epoch rule (h·T_d < rem·2^31)
    "q103_epoch_mix" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |      ELSE LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 END AS nt
        |  FROM documents),
        |m AS (SELECT lang, SUM(nt) AS t FROM d GROUP BY 1),
        |tot AS (SELECT 2 * SUM(nt) AS b FROM d),
        |tgt AS (SELECT * FROM (VALUES ('en', 4000), ('de', 1500), ('es', 1500),
        |  ('fr', 1500), ('zh', 1500)) x(lang, bp)),
        |pl AS (SELECT m.lang, m.t,
        |    CAST(LEAST(CAST(tgt.bp AS HUGEINT) * tot.b // 10000 // m.t, 4) AS BIGINT) AS full_e,
        |    CAST(tgt.bp AS HUGEINT) * tot.b // 10000 AS bud
        |  FROM m JOIN tgt USING (lang), tot),
        |pl2 AS (SELECT lang, t, full_e,
        |    CASE WHEN full_e >= 4 THEN 0 ELSE bud - full_e * t END AS rem FROM pl),
        |e AS (
        |  SELECT d.doc_id, d.lang, d.nt,
        |    UNNEST(range(1, CAST(p.full_e AS BIGINT) + 1)) AS epoch
        |  FROM d JOIN pl2 p USING (lang) WHERE p.full_e >= 1
        |  UNION ALL
        |  SELECT d.doc_id, d.lang, d.nt, p.full_e + 1 AS epoch
        |  FROM d JOIN pl2 p USING (lang)
        |  WHERE CAST((d.doc_id * 2654435761) % 2147483648 AS HUGEINT) * p.t
        |    < CAST(p.rem AS HUGEINT) * 2147483648)
        |SELECT lang, CAST(epoch AS BIGINT) AS epoch,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(nt) AS BIGINT) AS sum_tokens
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // winnowing replay: same k-gram rolling hashes, same w-window minima
    // (DuckDB list slicing hs[i:i+7] is 1-based inclusive = 8 elements),
    // distinct values summed per doc as an exact checksum
    "q102_winnow" ->
      """WITH t AS (SELECT doc_id, trim(text) AS t FROM documents),
        |hs AS (SELECT doc_id, CASE WHEN len(t) >= 5
        |  THEN [list_reduce([CAST(ascii(c) AS BIGINT) FOR c IN regexp_split_to_array(substr(t, i, 5), '')],
        |         (h, c) -> (h * 31 + c) % 2147483647) FOR i IN range(1, len(t) - 3)]
        |  ELSE [list_reduce([CAST(ascii(c) AS BIGINT) FOR c IN regexp_split_to_array(t, '')],
        |         (h, c) -> (h * 31 + c) % 2147483647)] END AS hs FROM t),
        |m AS (SELECT doc_id, UNNEST(CASE WHEN len(hs) >= 8
        |  THEN [list_min(hs[i:i+7]) FOR i IN range(1, len(hs) - 6)]
        |  ELSE [list_min(hs)] END) AS fp FROM hs),
        |d AS (SELECT DISTINCT doc_id, fp FROM m)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
        |  CAST(SUM(fp) AS BIGINT) AS sum_fp
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // CCNet band replay: per-lang unigram model, exact integer floored
    // average ('//' floors negatives — the engine matches via the pmod
    // identity), same deterministic ntile order
    "q100_ccnet_bands" ->
      """WITH t AS (SELECT doc_id, lang,
        |  UNNEST(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        |dt AS (SELECT doc_id, lang, tok, COUNT(*) AS c FROM t GROUP BY 1, 2, 3),
        |f AS (SELECT lang, tok, SUM(c) AS cnt FROM dt GROUP BY 1, 2),
        |tot AS (SELECT lang, SUM(cnt) AS total FROM f GROUP BY 1),
        |lp AS (SELECT f.lang, f.tok,
        |  CAST(ROUND(ROUND(LN(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 8) * 1e8, 0) AS BIGINT) AS lp
        |  FROM f JOIN tot ON f.lang = tot.lang),
        |pd AS (SELECT dt.doc_id, dt.lang, SUM(dt.c) AS n, SUM(dt.c * lp.lp) AS s
        |  FROM dt JOIN lp ON dt.lang = lp.lang AND dt.tok = lp.tok GROUP BY 1, 2),
        |a AS (SELECT doc_id, lang, CAST(s // n AS BIGINT) AS avg_lp_x1e8 FROM pd)
        |SELECT doc_id, lang, avg_lp_x1e8,
        |  ['head','middle','tail'][NTILE(3) OVER (
        |    PARTITION BY lang ORDER BY avg_lp_x1e8 DESC, doc_id)] AS ppl_band
        |FROM a ORDER BY doc_id""".stripMargin,
    // replays the Gopher rule battery: same plants, same integer flag
    // arithmetic ('//' floors like Spark's truncate — all counts positive)
    "q90_gopher_rules" ->
      """WITH planted AS (SELECT source, doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN text || ' ## ### ...'
        |    WHEN doc_id % 11 = 0 THEN text || ' 12345 67890 2468 13579 98765 43210 55555 31415 27182 16180'
        |    ELSE text END AS t2
        |  FROM documents),
        |g AS (SELECT source, t2,
        |  regexp_split_to_array(trim(t2), '\s+') AS toks FROM planted),
        |m AS (SELECT source,
        |  CAST(len(toks) AS BIGINT) AS n,
        |  list_reduce([CAST(length(t) AS BIGINT) FOR t IN toks], (a, b) -> a + b) AS sumlen,
        |  CAST(length(t2) - length(replace(t2, '#', '')) AS BIGINT) AS hashes,
        |  CAST((length(t2) - length(replace(t2, '...', ''))) // 3 AS BIGINT) AS dots,
        |  CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS alpha,
        |  len(list_filter(toks, t -> t IN ('the','be','to','of','and','that','have','with'))) AS stops
        |  FROM g),
        |flags AS (SELECT source,
        |  n BETWEEN 50 AND 100000 AS len_ok,
        |  (CASE WHEN n = 0 THEN 0 ELSE sumlen * 100 // n END) BETWEEN 300 AND 1000 AS mwl_ok,
        |  (hashes + dots) * 10 <= n AS sym_ok,
        |  alpha * 5 >= n * 4 AS alpha_ok,
        |  stops >= 2 AS stop_ok
        |  FROM m)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
        |CAST(SUM(CASE WHEN mwl_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_mwl_ok,
        |CAST(SUM(CASE WHEN sym_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_sym_ok,
        |CAST(SUM(CASE WHEN alpha_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_ok,
        |CAST(SUM(CASE WHEN stop_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_ok,
        |CAST(SUM(CASE WHEN len_ok AND mwl_ok AND sym_ok AND alpha_ok AND stop_ok
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM flags GROUP BY source ORDER BY source""".stripMargin,
    // replays lineDedupBySpan end-to-end: 10-token spans, rolling-hash
    // fingerprint (q46 formula), first-seen-wins on doc_id*10^6+idx,
    // reassembly md5 — a full value oracle over the rebuilt corpus
    "q89_line_dedup" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |spans AS (SELECT doc_id,
        |  UNNEST([{'line_idx': i,
        |    'line': array_to_string(t[i*10+1 : i*10+10], ' ')}
        |    FOR i IN range(0, CAST(ceil(len(t) / 10.0) AS INT))],
        |    recursive := true)
        |  FROM toks),
        |fp AS (SELECT doc_id, line_idx, line,
        |  list_reduce([CAST(ascii(c) AS BIGINT) FOR c IN regexp_split_to_array(line, '')],
        |    (h, c) -> (h * 31 + c) % 2147483647) AS f
        |  FROM spans),
        |keep AS (SELECT f, MIN(doc_id * 1000000 + line_idx) AS keep_ord
        |  FROM fp GROUP BY f),
        |kept AS (SELECT fp.doc_id, fp.line_idx, fp.line FROM fp
        |  JOIN keep ON fp.f = keep.f
        |  AND fp.doc_id * 1000000 + fp.line_idx = keep.keep_ord),
        |reb AS (SELECT doc_id, COUNT(*) AS n_kept,
        |  array_to_string(list(line ORDER BY line_idx), ' ') AS new_text
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM fp GROUP BY doc_id)
        |SELECT CAST(t.doc_id AS BIGINT) AS doc_id, t.n_lines,
        |COALESCE(r.n_kept, 0) AS n_kept,
        |md5(COALESCE(r.new_text, '')) AS new_md5
        |FROM tot t LEFT JOIN reb r USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q46_fingerprint" ->
      """SELECT doc_id,
        |list_reduce([CAST(ascii(c) AS BIGINT) FOR c IN regexp_split_to_array(text, '')],
        |  (h, c) -> (h * 31 + c) % 2147483647) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q53_pack" ->
      """WITH t AS (SELECT source, doc_id,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |    ELSE LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 END AS toks
        |  FROM documents),
        |c AS (SELECT source, doc_id, toks,
        |  SUM(toks) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM t)
        |SELECT source, CAST(FLOOR((cum - toks) / 2048.0) AS BIGINT) AS pack_id,
        |COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS sum_tokens,
        |MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q54_chunk" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |n AS (SELECT doc_id, tk,
        |  CAST(CEIL(len(tk) / 32.0) AS BIGINT) AS n_chunks FROM t)
        |SELECT doc_id,
        |UNNEST(range(0, n_chunks)) AS chunk_id,
        |UNNEST([LEAST(len(tk) - i*32, 64) FOR i IN range(0, n_chunks)]) AS n_tokens,
        |UNNEST([array_to_string(tk[i*32 + 1 : i*32 + 64], ' ') FOR i IN range(0, n_chunks)]) AS chunk_text
        |FROM n ORDER BY doc_id, chunk_id""".stripMargin,
    "q55_redact" ->
      """WITH planted AS (SELECT source,
        |  CASE WHEN doc_id % 10 = 0
        |    THEN text || ' reach me at user' || doc_id || '@example.com'
        |    ELSE text END AS text2
        |  FROM documents),
        |r AS (SELECT source, text2,
        |  regexp_replace(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS red
        |  FROM planted)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(CASE WHEN red <> text2 THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted,
        |CAST(SUM(LENGTH(text2) - LENGTH(red)) AS BIGINT) AS chars_removed
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q56_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id, UNNEST(list_distinct(
        |    CASE WHEN len(t) >= 3
        |      THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
        |      ELSE [array_to_string(t, ' ')] END)) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents)
        |),
        |ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id AS train_id, s FROM sh)
        |SELECT train_id, eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM tr JOIN ev USING (s)
        |GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |ORDER BY 1, 2""".stripMargin,
    "q57_stratified_sample" ->
      """SELECT lang, COUNT(*) AS n_total, TRUE AS sample_ok
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q58_shard" ->
      """WITH t AS (SELECT doc_id, source,
        |  (doc_id * 2654435761) % 2147483648 AS k FROM documents)
        |SELECT k % 8 AS shard, COUNT(*) AS n_docs,
        |CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |ARG_MIN(doc_id, k) AS first_doc
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q59_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents),
        |f AS (SELECT media_id, n_bytes,
        |  CAST(CEIL(n_bytes / 256.0) AS BIGINT) AS n_frames FROM m WHERE n_bytes > 0)
        |SELECT media_id, n_frames,
        |CAST(CEIL(n_frames / 4.0) AS BIGINT) AS n_sampled,
        |CAST(list_aggregate([LEAST(256, n_bytes - i*256) FOR i IN range(0, n_frames, 4)], 'sum') AS BIGINT) AS sampled_bytes
        |FROM f ORDER BY media_id""".stripMargin,
    "q60_curate" ->
      """WITH scored AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN regexp_matches(text, '\b(the|and|of|is)\b') THEN 'en'
        |      WHEN regexp_matches(text, '\b(der|und|die|das)\b') THEN 'de'
        |      WHEN regexp_matches(text, '\b(le|la|et|les)\b') THEN 'fr'
        |      WHEN regexp_matches(text, '\b(el|los|las|una)\b') THEN 'es'
        |      ELSE 'und' END AS guess,
        |    (CASE WHEN ntok BETWEEN 20 AND 1000 THEN 40 WHEN ntok BETWEEN 5 AND 19 THEN 20 ELSE 0 END)
        |    + (CASE WHEN nstop * 10 >= ntok THEN 30 WHEN nstop > 0 THEN 15 ELSE 0 END)
        |    + (CASE WHEN npunct * 4 <= nlen THEN 30 ELSE 0 END) AS score
        |  FROM (
        |    SELECT doc_id, source, text, LENGTH(text) AS nlen,
        |      CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |        ELSE LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 END AS ntok,
        |      LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'),
        |        w -> w IN ('the','a','an','and','of','to','in','is','it','for'))) AS nstop,
        |      LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[\p{P}\p{S}]', '', 'g')) AS npunct
        |    FROM documents)),
        |filtered AS (SELECT doc_id, source, text FROM scored
        |  WHERE guess IN ('en', 'de', 'fr', 'es') AND score >= 40),
        |keep AS (SELECT MIN(doc_id) AS doc_id FROM filtered GROUP BY text)
        |SELECT source, COUNT(*) AS n_surviving FROM filtered
        |WHERE doc_id IN (SELECT doc_id FROM keep)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q47_approx_distinct" ->
      """SELECT l_returnflag,
        |CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |TRUE AS parts_approx_ok, TRUE AS orders_approx_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q76_hll_distinct" ->
      """SELECT l_returnflag,
        |CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |TRUE AS est_ok, TRUE AS merge_exact
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // replays the incremental two-run dedup from scratch: first-seen-wins
    // over (day, doc_id) per rolling-hash fingerprint (the q46 formula)
    "q86_incremental_dedup" ->
      """WITH fp AS (
        |  SELECT doc_id, CAST(doc_id % 2 AS INT) AS day,
        |    list_reduce([CAST(ascii(c) AS BIGINT) FOR c IN regexp_split_to_array(text, '')],
        |      (h, c) -> (h * 31 + c) % 2147483647) AS f
        |  FROM documents),
        |keep AS (SELECT MIN(day * 1000000000 + doc_id) AS ord FROM fp GROUP BY f)
        |SELECT CAST(ord % 1000000000 AS BIGINT) AS doc_id,
        |CAST(ord // 1000000000 AS INT) AS day
        |FROM keep ORDER BY doc_id""".stripMargin,
    "q85_dd_quantile" ->
      """SELECT l_returnflag,
        |QUANTILE_CONT(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE), 0.5) AS median_price,
        |QUANTILE_CONT(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE), 0.95) AS p95_price,
        |TRUE AS q50_ok, TRUE AS q95_ok, TRUE AS merge_exact
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q88_kmv_setops" ->
      """WITH fk AS (SELECT DISTINCT l_returnflag AS f, l_partkey AS pk
        |  FROM lineitem WHERE l_returnflag IN ('A', 'N')),
        |pk AS (SELECT pk,
        |  MAX(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS ia,
        |  MAX(CASE WHEN f = 'N' THEN 1 ELSE 0 END) AS ib
        |  FROM fk GROUP BY pk)
        |SELECT CAST(SUM(ia) AS BIGINT) AS exact_a,
        |CAST(SUM(ib) AS BIGINT) AS exact_n,
        |CAST(COUNT(*) AS BIGINT) AS exact_union,
        |CAST(SUM(ia * ib) AS BIGINT) AS exact_inter,
        |TRUE AS est_a_ok, TRUE AS est_n_ok,
        |TRUE AS union_ok, TRUE AS inter_ok, TRUE AS merge_exact
        |FROM pk""".stripMargin,
    "q40_minhash_neardup" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted, TRUE AS recall_ok
        |FROM documents""".stripMargin,
    "q41_simhash" ->
      """SELECT doc_id, TRUE AS native_eq_hof FROM documents ORDER BY doc_id""",
    // The decode is REAL (JDK ImageIO): the engine synthesizes a genuine
    // PNG per doc_id (Multimodal.synthPng — deterministic size/gradient
    // formulas), DEFLATE-compresses it, and the query reports only what
    // ImageIO.read gives back. The oracle replays the FORMULAS with
    // integer arithmetic — it never sees the PNG bytes, so a hash match
    // proves the engine actually decoded pixels (a byte-level stub
    // cannot recover w/h/channel sums from compressed data).
    "q45_decode_features" ->
      """SELECT doc_id AS media_id,
        |(doc_id % 7) + 2 AS width,
        |(doc_id % 5) + 2 AS height,
        |CAST(list_sum(list_transform(range(0, ((doc_id % 7) + 2) * ((doc_id % 5) + 2)),
        |  i -> (3*(doc_id % 256) + 5*(i % ((doc_id % 7) + 2)) + 7*(i // ((doc_id % 7) + 2))) % 256)) AS BIGINT) AS r_sum,
        |CAST(list_sum(list_transform(range(0, ((doc_id % 7) + 2) * ((doc_id % 5) + 2)),
        |  i -> (11*(doc_id % 256) + 13*(i % ((doc_id % 7) + 2)) + 17*(i // ((doc_id % 7) + 2))) % 256)) AS BIGINT) AS g_sum,
        |CAST(list_sum(list_transform(range(0, ((doc_id % 7) + 2) * ((doc_id % 5) + 2)),
        |  i -> (19*(doc_id % 256) + 23*(i % ((doc_id % 7) + 2)) + 29*(i // ((doc_id % 7) + 2))) % 256)) AS BIGINT) AS b_sum
        |FROM documents ORDER BY media_id""".stripMargin,
    "q48_ann_ivf" ->
      """SELECT CAST(COUNT(*) + 1 AS BIGINT) AS n_vectors,
        |TRUE AS k_ok, TRUE AS planted_found, TRUE AS twin_cos_ok
        |FROM embeddings""".stripMargin,
    "q61_repetition" ->
      """WITH pt AS (
        |  SELECT doc_id, source, tok, COUNT(*) AS cnt FROM (
        |    SELECT doc_id, source,
        |      UNNEST(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents) GROUP BY 1, 2, 3
        |), prof AS (
        |  SELECT doc_id, source, SUM(cnt) AS n_tokens, COUNT(*) AS n_distinct,
        |    MAX(cnt) AS top_count
        |  FROM pt GROUP BY 1, 2
        |), sig AS (
        |  SELECT source,
        |    (n_tokens - n_distinct) * 100 // n_tokens AS dup_frac,
        |    top_count * 100 // n_tokens AS top_cov
        |  FROM prof)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(dup_frac) AS BIGINT) AS sum_dup_frac_x100,
        |CAST(SUM(CASE WHEN dup_frac >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
        |CAST(SUM(CASE WHEN top_cov >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_top_heavy
        |FROM sig GROUP BY 1 ORDER BY 1""".stripMargin,
    "q62_c4_filters" ->
      """WITH pt AS (
        |  SELECT doc_id, source, tok, COUNT(*) AS cnt FROM (
        |    SELECT doc_id, source,
        |      UNNEST(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents) GROUP BY 1, 2, 3
        |), prof AS (
        |  SELECT doc_id, source, SUM(cnt) AS n_tokens, COUNT(*) AS n_distinct,
        |    MAX(LENGTH(tok)) AS max_token_len
        |  FROM pt GROUP BY 1, 2
        |), f AS (
        |  SELECT source,
        |    n_tokens BETWEEN 10 AND 180 AS len_ok,
        |    max_token_len <= 15 AS word_ok,
        |    n_distinct * 2 >= n_tokens AS div_ok
        |  FROM prof)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
        |CAST(SUM(CASE WHEN word_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_word_ok,
        |CAST(SUM(CASE WHEN div_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_div_ok,
        |CAST(SUM(CASE WHEN len_ok AND word_ok AND div_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "q65_neardup_groups" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted, TRUE AS twin_dedup_ok
        |FROM documents""".stripMargin,
    "q66_semantic_dedup" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |TRUE AS twin_dedup_ok, TRUE AS kept_bounds_ok
        |FROM embeddings""".stripMargin,
    "q64_centroid" ->
      """SELECT label, CAST(i - 1 AS INT) AS dim, COUNT(*) AS n,
        |CAST(SUM(CAST(TRUNC(CAST(v AS DOUBLE) * 1048576) AS BIGINT)) AS BIGINT) AS sum_q
        |FROM (SELECT label, UNNEST(embedding[1:8]) AS v, UNNEST(range(1, 9)) AS i
        |      FROM embeddings)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q63_tfidf" ->
      """WITH d AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents)
        |), f AS (SELECT tok, COUNT(*) AS df FROM d GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tok, df, ROUND(LN(CAST(n_docs AS DOUBLE) / df), 8) AS idf
        |FROM f, n ORDER BY df DESC, tok ASC LIMIT 15""".stripMargin,
    "q67_domain_cap" ->
      """WITH r AS (SELECT source, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
        |CAST(SUM(CASE WHEN rn <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |CAST(SUM(CASE WHEN rn <= 30 THEN doc_id ELSE 0 END) AS BIGINT) AS sum_kept_ids
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // Replays TextOps.qualityScore (the q60 scored CTE) + the Knuth affine
    // keep-hash: all-integer arithmetic, positive operands, so DuckDB's %
    // equals Spark's pmod.
    "q68_weighted_sample" ->
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    (CASE WHEN ntok BETWEEN 20 AND 1000 THEN 40 WHEN ntok BETWEEN 5 AND 19 THEN 20 ELSE 0 END)
        |    + (CASE WHEN nstop * 10 >= ntok THEN 30 WHEN nstop > 0 THEN 15 ELSE 0 END)
        |    + (CASE WHEN npunct * 4 <= nlen THEN 30 ELSE 0 END) AS score
        |  FROM (
        |    SELECT doc_id, source, LENGTH(text) AS nlen,
        |      CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |        ELSE LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 END AS ntok,
        |      LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'),
        |        w -> w IN ('the','a','an','and','of','to','in','is','it','for'))) AS nstop,
        |      LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[\p{P}\p{S}]', '', 'g')) AS npunct
        |    FROM documents)),
        |w AS (SELECT source, score,
        |  (doc_id * 2654435761) % 2147483648 % 100 < score AS keep FROM scored)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |CAST(SUM(CASE WHEN keep THEN score ELSE 0 END) AS BIGINT) AS sum_kept_score
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    "q69_bloom_decontam" ->
      """WITH ev AS (SELECT DISTINCT text FROM documents WHERE doc_id % 50 = 0)
        |SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_train,
        |CAST((SELECT COUNT(*) FROM documents WHERE text IN (SELECT text FROM ev)) AS BIGINT) AS n_contaminated,
        |TRUE AS no_false_negatives, TRUE AS fp_bounded""".stripMargin,
    "q70_group_topk" ->
      """WITH r AS (SELECT lang, doc_id, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT lang, CAST(rn AS INT) AS rk, doc_id, n_chars
        |FROM r WHERE rn <= 3 ORDER BY lang, rk""".stripMargin,
    "q72_bpe_bigrams" ->
      """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |p AS (SELECT UNNEST([tk[i] || ' ' || tk[i + 1]
        |  FOR i IN range(1, len(tk))]) AS pair FROM t)
        |SELECT pair, COUNT(*) AS cnt FROM p GROUP BY 1
        |ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin,
    "q75_bpe_train" -> sqlBpeTrain(3),
    "q77_bpe_encode" -> sqlBpeEncode(3),
    "q87_byte_bpe" -> sqlBpeTrain(3, sqlByteT0),
    "q78_kmeans_refine" ->
      """SELECT CAST(8 AS INT) AS k,
        |CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |TRUE AS inertia_monotone, TRUE AS improved
        |FROM embeddings""".stripMargin,
    "q84_pmi_collocations" ->
      """WITH t AS (SELECT doc_id AS did,
        |  regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |u AS (SELECT UNNEST(tk) AS tok FROM t),
        |uc AS (SELECT tok, COUNT(*) AS ucnt FROM u GROUP BY 1),
        |ut AS (SELECT SUM(ucnt) AS ntok FROM uc),
        |pp AS (SELECT tok AS l, LEAD(tok) OVER (PARTITION BY did ORDER BY i) AS r
        |  FROM (SELECT did, UNNEST(tk) AS tok, UNNEST(range(1, len(tk) + 1)) AS i FROM t)),
        |pc AS (SELECT l, r, COUNT(*) AS cnt FROM pp WHERE r IS NOT NULL GROUP BY 1, 2),
        |pt AS (SELECT SUM(cnt) AS npair FROM pc)
        |SELECT l, r, cnt,
        |CAST(ROUND(ROUND(LN((CAST(cnt AS DOUBLE) / CAST(npair AS DOUBLE))
        |  / ((CAST(ul.ucnt AS DOUBLE) / CAST(ntok AS DOUBLE))
        |     * (CAST(ur.ucnt AS DOUBLE) / CAST(ntok AS DOUBLE)))), 8) * 1e8, 0) AS BIGINT) AS pmi_x1e8
        |FROM pc JOIN uc ul ON pc.l = ul.tok JOIN uc ur ON pc.r = ur.tok, pt, ut
        |WHERE cnt >= 5
        |ORDER BY pmi_x1e8 DESC, l, r LIMIT 20""".stripMargin,
    "q83_unigram_logprob" ->
      """WITH t AS (SELECT doc_id,
        |  UNNEST(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        |dt AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
        |f AS (SELECT tok, SUM(c) AS cnt FROM dt GROUP BY 1),
        |tot AS (SELECT SUM(cnt) AS total FROM f),
        |lp AS (SELECT tok,
        |  CAST(ROUND(ROUND(LN(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 8) * 1e8, 0) AS BIGINT) AS lp_x1e8
        |  FROM f, tot)
        |SELECT dt.doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |CAST(SUM(c * lp_x1e8) AS BIGINT) AS sum_lp_x1e8
        |FROM dt JOIN lp USING (tok) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q82_quality_deciles" ->
      """WITH scored AS (
        |  SELECT lang, doc_id,
        |    (CASE WHEN ntok BETWEEN 20 AND 1000 THEN 40 WHEN ntok BETWEEN 5 AND 19 THEN 20 ELSE 0 END)
        |    + (CASE WHEN nstop * 10 >= ntok THEN 30 WHEN nstop > 0 THEN 15 ELSE 0 END)
        |    + (CASE WHEN npunct * 4 <= nlen THEN 30 ELSE 0 END) AS score
        |  FROM (
        |    SELECT lang, doc_id, LENGTH(text) AS nlen,
        |      CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |        ELSE LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 END AS ntok,
        |      LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'),
        |        w -> w IN ('the','a','an','and','of','to','in','is','it','for'))) AS nstop,
        |      LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[\p{P}\p{S}]', '', 'g')) AS npunct
        |    FROM documents))
        |SELECT lang, doc_id, score,
        |CAST(DENSE_RANK() OVER (PARTITION BY lang ORDER BY score DESC) AS INT) AS drk,
        |CAST(NTILE(10) OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS INT) AS decile,
        |ROUND(PERCENT_RANK() OVER (PARTITION BY lang ORDER BY score DESC), 8) AS pct_rank,
        |ROUND(CUME_DIST() OVER (PARTITION BY lang ORDER BY score DESC), 8) AS cume
        |FROM scored ORDER BY lang, doc_id""".stripMargin,
    "q81_resize" ->
      """WITH m AS (SELECT doc_id AS media_id, text, LENGTH(text) AS len
        |  FROM documents WHERE LENGTH(text) > 0)
        |SELECT media_id, CAST(256 AS BIGINT) AS out_bytes,
        |CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |md5(substr(repeat(text, CAST(CEIL(256.0 / len) AS INT)), 1, 256)) AS resized_md5
        |FROM m ORDER BY media_id""".stripMargin,
    "q79_group_sample" ->
      """WITH r AS (SELECT lang, doc_id,
        |  (doc_id * 2654435761) % 2147483648 AS sample_key,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY (doc_id * 2654435761) % 2147483648) AS rk
        |  FROM documents)
        |SELECT lang, CAST(rk AS INT) AS rk, doc_id, sample_key
        |FROM r WHERE rk <= 4 ORDER BY lang, rk""".stripMargin,
    "q74_uniform_sample" ->
      """SELECT doc_id, (doc_id * 2654435761) % 2147483648 AS sample_key, source
        |FROM documents ORDER BY sample_key LIMIT 25""".stripMargin,
    "q73_cms_heavy_hitters" ->
      """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |p AS (SELECT UNNEST([tk[i] || ' ' || tk[i + 1]
        |  FOR i IN range(1, len(tk))]) AS pair FROM t)
        |SELECT pair, COUNT(*) AS cnt,
        |TRUE AS est_ge_exact, TRUE AS est_within_bound
        |FROM p GROUP BY 1
        |ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin,
    "q71_quantize_int8" ->
      """WITH d AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v, list_max([abs(x) FOR x IN v]) AS scale FROM d),
        |q AS (SELECT vec_id, v, scale,
        |  CASE WHEN scale = 0 THEN [0 FOR x IN v]
        |    ELSE [CAST(FLOOR(x * 127.0 / scale + 0.5) AS INT) FOR x IN v] END AS qv
        |  FROM s)
        |SELECT vec_id,
        |CAST(FLOOR(scale * 1e9) AS BIGINT) AS scale_x1e9,
        |list_min(qv) AS q_min,
        |list_max(qv) AS q_max,
        |CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
        |CAST(FLOOR(list_max([abs(qv[i] * scale / 127.0 - v[i])
        |  FOR i IN range(1, len(v) + 1)]) * 1e9) AS BIGINT) AS max_err_x1e9
        |FROM q ORDER BY vec_id""".stripMargin,
    // multi-class PII scrub: each class counts/redacts on the text the
    // previous classes left (the q122 chain order: email → phone → ip)
    "q122_pii_scrub" ->
      """WITH planted AS (SELECT source, text
        |  || CASE WHEN doc_id % 7 = 0
        |       THEN ' contact user' || doc_id || '@example.com' ELSE '' END
        |  || CASE WHEN doc_id % 11 = 3
        |       THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |         || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |  || CASE WHEN doc_id % 19 = 4
        |       THEN ' ring (555) ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |         || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |  || CASE WHEN doc_id % 23 = 7
        |       THEN ' cell +1 555 ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |         || ' ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |  || CASE WHEN doc_id % 29 = 8
        |       THEN ' fax 555.' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |         || '.' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |  || CASE WHEN doc_id % 13 = 5
        |       THEN ' from ' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
        |         || '.' || ((doc_id * 13) % 256) || '.' || (doc_id % 250 + 1) ELSE '' END
        |  AS t0 FROM documents),
        |s1 AS (SELECT source, t0,
        |  len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
        |  regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
        |  FROM planted),
        |s2 AS (SELECT source, t0, ne,
        |  len(regexp_extract_all(t1, '(\+1[- .])?(\(\d{3}\)[- .]?|\b\d{3}[- .])\d{3}[- .]\d{4}\b')) AS np,
        |  regexp_replace(t1, '(\+1[- .])?(\(\d{3}\)[- .]?|\b\d{3}[- .])\d{3}[- .]\d{4}\b', '[PHONE]', 'g') AS t2
        |  FROM s1),
        |s3 AS (SELECT source, t0, ne, np,
        |  len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ni,
        |  regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS t3
        |  FROM s2)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(ne) AS BIGINT) AS emails,
        |CAST(SUM(np) AS BIGINT) AS phones,
        |CAST(SUM(ni) AS BIGINT) AS ips,
        |CAST(SUM(CASE WHEN ne + np + ni > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
        |CAST(SUM(LENGTH(t0) - LENGTH(t3)) AS BIGINT) AS chars_delta
        |FROM s3 GROUP BY 1 ORDER BY 1""".stripMargin,
    // the dedup key everywhere below is dedupKey: normalized text with the
    // raw-text fallback when normalization erases the document to '' (the
    // non-Latin guard — see TextOps.dedupKey)
    "q123_norm_dedup" ->
      """WITH a AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000000, source, upper(text) || ' !!'
        |  FROM documents WHERE doc_id % 10 = 1),
        |n AS (SELECT doc_id, source,
        |  CASE WHEN nt0 = '' THEN text ELSE nt0 END AS nt FROM (
        |    SELECT doc_id, source, text,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |      ' +', ' ', 'g')) AS nt0 FROM a)),
        |g AS (SELECT nt, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |  FROM n GROUP BY 1)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |CAST(SUM(CASE WHEN doc_id = keep_id THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |MAX(n_copies) AS max_copies
        |FROM n JOIN g USING (nt) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q124_soft_dedup" ->
      """WITH n AS (SELECT doc_id, source,
        |  CASE WHEN nt0 = '' THEN text ELSE nt0 END AS nt, n_tokens FROM (
        |    SELECT doc_id, source, text,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |      ' +', ' ', 'g')) AS nt0,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |    FROM documents)),
        |g AS (SELECT nt, COUNT(*) AS n_copies FROM n GROUP BY 1),
        |w AS (SELECT source, n_tokens, 1000000 // n_copies AS weight_ppm
        |  FROM n JOIN g USING (nt))
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(weight_ppm) AS BIGINT) AS effective_docs_ppm,
        |CAST(SUM(weight_ppm * n_tokens) AS BIGINT) AS weighted_tokens_ppm
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // q126 runs the FINGERPRINT-keyed production variant
    // (exactDedupNormalizedByFingerprint — 8-byte xxhash64 shuffle key);
    // the oracle replays the EXACT dedup key: identical groups unless
    // xxhash64 collides (P ≈ n²/2^65 — zero at test scale), so a green
    // hash here IS the fingerprint≡exact equivalence check on real data.
    // The planted '!'-run twins (empty normalized form) pin the non-Latin
    // guard: they must group by RAW text (5 distinct runs), never collapse
    // into one empty-key mega-group.
    "q126_fp_dedup" ->
      """WITH a AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000000, source, upper(text) || ' !!'
        |  FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 200000000, source,
        |    repeat('!', CAST(doc_id % 5 AS INT) + 1)
        |  FROM documents WHERE doc_id % 17 = 2),
        |n AS (SELECT doc_id, source,
        |  CASE WHEN nt0 = '' THEN text ELSE nt0 END AS nt FROM (
        |    SELECT doc_id, source, text,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |      ' +', ' ', 'g')) AS nt0 FROM a)),
        |g AS (SELECT nt, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |  FROM n GROUP BY 1)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |CAST(SUM(CASE WHEN doc_id = keep_id THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |MAX(n_copies) AS max_copies
        |FROM n JOIN g USING (nt) GROUP BY 1 ORDER BY 1""".stripMargin,
    // The audio decode is REAL (JDK javax.sound.sampled): the engine
    // synthesizes a genuine RIFF/WAVE file per doc_id (Multimodal.synthWav
    // — deterministic rate/channel/sample formulas), and the query reports
    // only what the PCM reader gives back. The oracle replays the FORMULAS
    // with integer arithmetic — it never sees the WAV bytes, so a hash
    // match proves the engine actually parsed headers and decoded
    // interleaved little-endian 16-bit samples (the q45 contract, applied
    // to audio).
    "q127_audio_decode" ->
      """SELECT doc_id AS media_id,
        |CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
        |  WHEN 2 THEN 16000 ELSE 22050 END AS BIGINT) AS sample_rate,
        |(doc_id % 2) + 1 AS channels,
        |(doc_id % 50) + 20 AS n_frames,
        |CAST(list_sum(list_transform(range(0, (doc_id % 50) + 20),
        |  i -> (7*(doc_id % 256) + 13*i) % 201 - 100)) AS BIGINT) AS ch0_sum,
        |CAST(CASE WHEN doc_id % 2 = 1 THEN
        |  list_sum(list_transform(range(0, (doc_id % 50) + 20),
        |    i -> (7*(doc_id % 256) + 13*i + 31) % 201 - 100))
        |  ELSE 0 END AS BIGINT) AS ch1_sum
        |FROM documents ORDER BY media_id""".stripMargin,
    // HTML main-content extraction: the page is CONSTRUCTED in-query
    // around each document's text (nav + two <p> paragraphs + link list
    // + footer — known block structure), the engine runs the real
    // jusText-style segmentation/stripping/density pipeline over the
    // HTML, and the oracle replays the expected per-block outcomes by
    // pure arithmetic on the raw text (block counts, kept counts,
    // content/boilerplate character mass, exact-recovery count). A
    // stub that doesn't really parse blocks/anchors cannot reproduce
    // the planted boilerplate masses (18+7+7+22 chars) or recover the
    // text exactly.
    "q128_html_extract" ->
      """WITH n AS (SELECT doc_id, source,
        |  trim(regexp_replace(text, '\s+', ' ', 'g')) AS nt FROM documents),
        |c AS (SELECT source,
        |  CASE WHEN length(nt) >= 10 THEN 1 ELSE 0 END AS p1_kept,
        |  length(nt) AS p1_len,
        |  length('Article body continues with further detail for doc '
        |    || doc_id || '.') AS p2_len
        |  FROM n)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(5 + CASE WHEN p1_len > 0 THEN 1 ELSE 0 END) AS BIGINT) AS blocks,
        |CAST(SUM(1 + p1_kept) AS BIGINT) AS kept,
        |CAST(SUM(CASE WHEN p1_kept = 1 THEN p1_len + 1 + p2_len
        |  ELSE p2_len END) AS BIGINT) AS content_chars,
        |CAST(SUM(54 + CASE WHEN p1_kept = 0 THEN p1_len ELSE 0 END) AS BIGINT)
        |  AS boiler_chars,
        |CAST(SUM(p1_kept) AS BIGINT) AS n_exact_recovery
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // Naive-Bayes quality classifier: the q83 ln convention (round to 8
    // decimals, carry integer 1e-8 units) keeps log-odds engine-exact
    "q125_nb_quality" ->
      """WITH t AS (SELECT doc_id, lang,
        |  source IN ('src0','src1','src2','src3','src4') AS pos,
        |  UNNEST(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        |c AS (SELECT tok,
        |  SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS c_pos,
        |  SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS c_neg FROM t GROUP BY 1),
        |tot AS (SELECT SUM(c_pos) AS tot_pos, SUM(c_neg) AS tot_neg,
        |  COUNT(*) AS v FROM c),
        |m AS (SELECT tok,
        |  CAST(ROUND(ROUND(LN(CAST(c_pos + 1 AS DOUBLE) / CAST(tot_pos + v AS DOUBLE)), 8) * 1e8, 0) AS BIGINT)
        |  - CAST(ROUND(ROUND(LN(CAST(c_neg + 1 AS DOUBLE) / CAST(tot_neg + v AS DOUBLE)), 8) * 1e8, 0) AS BIGINT) AS lo
        |  FROM c, tot),
        |dt AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
        |sc AS (SELECT dt.doc_id, SUM(cnt) AS n_tokens,
        |  SUM(cnt * COALESCE(lo, 0)) AS s
        |  FROM dt LEFT JOIN m USING (tok) GROUP BY 1)
        |SELECT lang, COUNT(*) AS n_docs,
        |CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref_like,
        |CAST(SUM(s) AS BIGINT) AS total_lo_x1e8,
        |CAST(MIN(s) AS BIGINT) AS min_lo_x1e8,
        |CAST(MAX(s) AS BIGINT) AS max_lo_x1e8
        |FROM (SELECT DISTINCT doc_id, lang FROM t) d JOIN sc USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // URL canonicalization: the oracle rebuilds the SAME messy URLs from
    // doc_id and replays the ENTIRE canonicalization (fragment/port/www
    // stripping, tracking-param filter + sort, trailing-slash rule,
    // registered-domain heuristic, keep predicate) in SQL — the
    // canonical strings themselves are pinned via total chars + MAX.
    "q129_url_canon" ->
      """WITH u AS (SELECT doc_id, source,
        |  CASE WHEN doc_id%2=0 THEN 'HTTP' ELSE 'https' END || '://' ||
        |  CASE WHEN doc_id%5=0 THEN 'WWW.' ELSE '' END ||
        |  CASE WHEN doc_id%13=0 THEN 'Spam.Tracker.NET'
        |    WHEN doc_id%3=0 THEN 'Example.COM'
        |    WHEN doc_id%3=1 THEN 'news.example.co.uk'
        |    ELSE 'cdn.assets.org' END ||
        |  CASE WHEN doc_id%7=0 THEN
        |    CASE WHEN doc_id%2=0 THEN ':80' ELSE ':443' END ELSE '' END ||
        |  CASE WHEN doc_id%11=0 THEN
        |      '/static/app.' || CAST(doc_id%50 AS VARCHAR) || '.js'
        |    ELSE '/Article/' || CAST(doc_id%50 AS VARCHAR) ||
        |      CASE WHEN doc_id%4=0 THEN '/' ELSE '' END END ||
        |  CASE WHEN doc_id%2=0 THEN
        |      '?utm_source=feed&b=' || CAST(doc_id%10 AS VARCHAR) || '&a=1'
        |    ELSE '?a=1&utm_campaign=x&b=' || CAST(doc_id%10 AS VARCHAR) END ||
        |  CASE WHEN doc_id%6=0 THEN '#sec' ELSE '' END AS url
        |  FROM documents),
        |p AS (SELECT source, url,
        |  lower(regexp_extract(regexp_replace(url, '#.*', ''),
        |    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(regexp_replace(url, '#.*', ''),
        |    '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM u),
        |h AS (SELECT source, url, scheme,
        |  regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)),
        |    '^www\.', '') AS h0,
        |  regexp_replace(rest, '^[^/?]*', '') AS pathq FROM p),
        |h2 AS (SELECT source, scheme,
        |  CASE WHEN scheme='http' THEN regexp_replace(h0, ':80$', '')
        |    WHEN scheme='https' THEN regexp_replace(h0, ':443$', '')
        |    ELSE h0 END AS host,
        |  regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS pth,
        |  array_to_string(list_sort(list_filter(
        |    string_split(regexp_extract(regexp_replace(url, '#.*', ''),
        |      '\?(.*)$', 1), '&'),
        |    x -> x <> '' AND NOT regexp_matches(x,
        |      '(?i)^(utm_[a-z0-9]+|fbclid|gclid|msclkid|mc_eid|igshid|ref)='))),
        |    '&') AS q FROM h),
        |c AS (SELECT source, scheme, pth, q,
        |  scheme || '://' || host || pth ||
        |    CASE WHEN q='' THEN '' ELSE '?' || q END AS canon,
        |  string_split(host, '.') AS ls FROM h2),
        |d AS (SELECT source, scheme, pth, canon,
        |  CASE WHEN len(ls) >= 3 AND ls[len(ls)-1] IN
        |      ('co','com','net','org','gov','ac','edu')
        |    THEN array_to_string(ls[len(ls)-2:len(ls)], '.')
        |    ELSE array_to_string(ls[greatest(len(ls)-1,1):len(ls)], '.')
        |  END AS dom FROM c),
        |k AS (SELECT source, canon, dom,
        |  (scheme IN ('http','https') AND NOT regexp_matches(lower(pth),
        |    '\.(css|js|mjs|png|jpe?g|gif|ico|svg|webp|woff2?|ttf|mp4|mp3|zip|gz|exe)$')
        |   AND dom NOT IN ('tracker.net')) AS keep FROM d)
        |SELECT source, COUNT(*) AS n_urls,
        |CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |CAST(SUM(length(canon)) AS BIGINT) AS canon_chars,
        |MAX(canon) AS max_canon,
        |COUNT(DISTINCT canon) AS n_canon,
        |COUNT(DISTINCT dom) AS n_domains
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // Compression-ratio verdicts: every boolean is guaranteed by the
    // planted-class construction (margins measured in the q130 scaladoc),
    // so the oracle asserts them as certainties — the engine side still
    // computes them from genuinely deflated bytes.
    "q130_compression_ratio" ->
      """SELECT source, COUNT(*) AS n_docs,
        |COUNT(*) AS n_rep_low, COUNT(*) AS n_noise_mid,
        |COUNT(*) AS n_order, COUNT(*) AS n_long_text_low
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // Heavy hitters: k=64 >= vocabulary, so the MG summary is provably
    // the exact count map (hash-compared against GROUP BY); the k=8
    // verdicts are algorithmic guarantees, TRUE for any merge order.
    "q131_heavy_hitters" ->
      """WITH t AS (SELECT UNNEST(regexp_split_to_array(trim(text), '\s+'))
        |    AS token FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM t),
        |c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1)
        |SELECT token, cnt, cnt*9 > n AS is_heavy, TRUE AS k8_ok
        |FROM c, tot ORDER BY cnt DESC, token""".stripMargin,
    // Per-language dedup: grouping key is (lang, normalized key) — the
    // cross-language 'zz' clones survive, within-language mutants drop.
    "q132_perlang_dedup" ->
      """WITH a AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000000, 'zz', text
        |  FROM documents WHERE doc_id % 9 = 3
        |  UNION ALL
        |  SELECT doc_id + 400000000, lang, upper(text) || ' ??'
        |  FROM documents WHERE doc_id % 7 = 2),
        |n AS (SELECT doc_id, lang,
        |  CASE WHEN nt0 = '' THEN text ELSE nt0 END AS nt FROM (
        |    SELECT doc_id, lang, text,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |      ' +', ' ', 'g')) AS nt0 FROM a)),
        |g AS (SELECT lang, nt, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |  FROM n GROUP BY 1, 2)
        |SELECT lang, COUNT(*) AS n_docs,
        |CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |CAST(SUM(CASE WHEN doc_id = keep_id THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |MAX(n_copies) AS max_copies
        |FROM n JOIN g USING (lang, nt) GROUP BY 1 ORDER BY 1""".stripMargin,
    // The full web-curation chain, replayed stage by stage: registered
    // domains / url_keep by construction arithmetic (q129/q134 hold the
    // generic replays), HTML recovery by the q128 arithmetic (p1 kept
    // iff its normalized length >= 10; boilerplate blocks are link-dense
    // or short by construction), lang+quality by the q60 arithmetic over
    // the RECOVERED content, the email->phone->ip chain by the q122
    // arithmetic, dedup by the q123/q126 normalized-key grouping (the
    // engine runs the 8-byte fingerprint variant — identical up to
    // xxhash64 collisions, zero at test scale), and the per-domain cap
    // as a row_number window ordered by doc_id.
    "q133_web_curation" ->
      """WITH a AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000000, source, text || ' !! !!'
        |  FROM documents WHERE doc_id % 10 = 1),
        |b AS (SELECT doc_id, source, text, doc_id % 100000000 AS d2 FROM a),
        |u AS (SELECT doc_id, source, text, d2,
        |  CASE WHEN d2 % 13 = 0 THEN 'tracker.net'
        |    WHEN d2 % 3 = 0 THEN 'shop' || CAST(d2 % 23 AS VARCHAR) || '.com'
        |    WHEN d2 % 3 = 1 THEN 'site' || CAST(d2 % 19 AS VARCHAR) || '.co.uk'
        |    ELSE 'media' || CAST(d2 % 17 AS VARCHAR) || '.org' END AS dom
        |  FROM b WHERE d2 % 29 <> 5 AND d2 % 13 <> 0),
        |h AS (SELECT doc_id, source, dom,
        |  trim(regexp_replace(text, '\s+', ' ', 'g')) AS nt,
        |  'Article body continues with further detail for doc '
        |    || CAST(d2 AS VARCHAR) || '.'
        |  || CASE WHEN d2 % 7 = 0
        |       THEN ' contact user' || CAST(d2 AS VARCHAR) || '@example.com'
        |       ELSE '' END
        |  || CASE WHEN d2 % 11 = 3
        |       THEN ' call 555-' || lpad(CAST(d2 % 1000 AS VARCHAR), 3, '0')
        |         || '-' || lpad(CAST(d2 % 10000 AS VARCHAR), 4, '0')
        |       ELSE '' END AS p2
        |  FROM u),
        |c AS (SELECT doc_id, source, dom,
        |  CASE WHEN length(nt) >= 10 THEN nt || ' ' || p2 ELSE p2 END AS content
        |  FROM h),
        |sc AS (SELECT doc_id, source, dom, content,
        |  CASE WHEN regexp_matches(content, '\b(the|and|of|is)\b') THEN 'en'
        |    WHEN regexp_matches(content, '\b(der|und|die|das)\b') THEN 'de'
        |    WHEN regexp_matches(content, '\b(le|la|et|les)\b') THEN 'fr'
        |    WHEN regexp_matches(content, '\b(el|los|las|una)\b') THEN 'es'
        |    ELSE 'und' END AS guess,
        |  (CASE WHEN ntok BETWEEN 20 AND 1000 THEN 40 WHEN ntok BETWEEN 5 AND 19 THEN 20 ELSE 0 END)
        |  + (CASE WHEN nstop * 10 >= ntok THEN 30 WHEN nstop > 0 THEN 15 ELSE 0 END)
        |  + (CASE WHEN npunct * 4 <= nlen THEN 30 ELSE 0 END) AS score
        |  FROM (
        |    SELECT doc_id, source, dom, content, LENGTH(content) AS nlen,
        |      CASE WHEN LENGTH(TRIM(content)) = 0 THEN 0
        |        ELSE LENGTH(TRIM(content)) - LENGTH(REPLACE(TRIM(content), ' ', '')) + 1 END AS ntok,
        |      LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(content), '\s+'),
        |        w -> w IN ('the','a','an','and','of','to','in','is','it','for'))) AS nstop,
        |      LENGTH(content) - LENGTH(REGEXP_REPLACE(content, '[\p{P}\p{S}]', '', 'g')) AS npunct
        |    FROM c)),
        |f AS (SELECT doc_id, source, dom, content FROM sc
        |  WHERE guess IN ('en', 'de', 'fr', 'es') AND score >= 40),
        |s1 AS (SELECT doc_id, source, dom,
        |  len(regexp_extract_all(content, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
        |  regexp_replace(content, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
        |  FROM f),
        |s2 AS (SELECT doc_id, source, dom, ne,
        |  len(regexp_extract_all(t1, '(\+1[- .])?(\(\d{3}\)[- .]?|\b\d{3}[- .])\d{3}[- .]\d{4}\b')) AS np,
        |  regexp_replace(t1, '(\+1[- .])?(\(\d{3}\)[- .]?|\b\d{3}[- .])\d{3}[- .]\d{4}\b', '[PHONE]', 'g') AS t2
        |  FROM s1),
        |s3 AS (SELECT doc_id, source, dom, ne, np,
        |  regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS t3
        |  FROM s2),
        |n AS (SELECT doc_id, source, dom, ne, np, t3,
        |  CASE WHEN nt0 = '' THEN t3 ELSE nt0 END AS k FROM (
        |    SELECT *, trim(regexp_replace(regexp_replace(lower(t3),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt0 FROM s3)),
        |g AS (SELECT k, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |  FROM n GROUP BY 1),
        |keepers AS (SELECT n.doc_id, n.source, n.dom, n.ne, n.np, n.t3,
        |  g.n_copies FROM n JOIN g ON n.k = g.k AND n.doc_id = g.keep_id),
        |capped AS (SELECT * FROM (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY dom ORDER BY doc_id) AS rn
        |  FROM keepers) WHERE rn <= 40)
        |SELECT source, COUNT(*) AS n_final,
        |CAST(SUM(n_copies) AS BIGINT) AS n_repr,
        |CAST(SUM(ne) AS BIGINT) AS emails,
        |CAST(SUM(np) AS BIGINT) AS phones,
        |CAST(SUM(LENGTH(t3)) AS BIGINT) AS scrub_chars,
        |MAX(n_copies) AS max_copies,
        |COUNT(DISTINCT dom) AS n_domains
        |FROM capped GROUP BY 1 ORDER BY 1""".stripMargin,
    // Cross-run heavy-hitters roll-up: the k=64 path through the
    // hand-off seam is exact (per-day and merged vocab <= k), so
    // the oracle is the same from-scratch GROUP BY as q131; the k=8
    // roll-up verdicts are the composed mergeable-summary guarantees,
    // TRUE for any merge order and day split.
    "q136_hh_rollup" ->
      """WITH t AS (SELECT UNNEST(regexp_split_to_array(trim(text), '\s+'))
        |    AS token FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM t),
        |c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1)
        |SELECT token, cnt, cnt*9 > n AS is_heavy, TRUE AS k8_ok
        |FROM c, tot ORDER BY cnt DESC, token""".stripMargin,
    // Bounded per-group cap: identical replay to q67 (k smallest ids per
    // group) — the engine side differs only in plan shape.
    "q137_domain_cap_bounded" ->
      """WITH r AS (SELECT source, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
        |CAST(SUM(CASE WHEN rn <= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |CAST(SUM(CASE WHEN rn <= 25 THEN doc_id ELSE 0 END) AS BIGINT) AS sum_kept_ids
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // Cross-run URL dedup: canonicalization replayed by construction
    // arithmetic (www/case fold, trailing slash, trackers dropped);
    // first-seen-wins = min(day*10^9 + id) per canonical URL (the q86
    // invariant, URL-keyed).
    "q138_incremental_web" ->
      """WITH u AS (SELECT doc_id, CAST(doc_id % 2 AS INT) AS day,
        |  CASE WHEN doc_id % 2 = 1 AND doc_id % 7 = 3
        |    THEN 'https://site-new' || CAST(doc_id AS VARCHAR) || '.com/doc'
        |    ELSE 'https://site' || CAST(doc_id % 351 AS VARCHAR)
        |      || '.com/doc/' || CAST(doc_id % 351 AS VARCHAR)
        |  END AS canon FROM documents),
        |keep AS (SELECT canon, MIN(day * 1000000000 + doc_id) AS ord
        |  FROM u GROUP BY canon)
        |SELECT CAST(ord % 1000000000 AS BIGINT) AS doc_id,
        |CAST(ord // 1000000000 AS INT) AS day, canon AS canonical_url
        |FROM keep ORDER BY doc_id""".stripMargin,
    // Real GIF frame sampling: frame grid and per-frame gray sums
    // replayed by the synthGif construction arithmetic (nested
    // UNNEST(range) over frames × pixels); stub rows by the q59
    // byte-stride arithmetic.
    "q139_gif_frames" ->
      """WITH g AS (SELECT doc_id AS id, (doc_id % 6) + 2 AS nf,
        |    (doc_id % 5) + 2 AS w, (doc_id % 4) + 2 AS h, doc_id % 256 AS m
        |  FROM documents WHERE doc_id % 2 = 0),
        |gf AS (SELECT id, nf, w, h, m, t.f FROM g,
        |  UNNEST(range(0, CAST(nf AS BIGINT), 2)) AS t(f)),
        |gp AS (SELECT id, nf, f, w, h,
        |    SUM((3*m + 5*tx.x + 7*ty.y + 11*f) % 256) AS pix
        |  FROM gf,
        |    UNNEST(range(0, CAST(w AS BIGINT))) AS tx(x),
        |    UNNEST(range(0, CAST(h AS BIGINT))) AS ty(y)
        |  GROUP BY 1, 2, 3, 4, 5),
        |v AS (SELECT doc_id AS id,
        |    CAST(doc_id % 17 + 3 AS BIGINT) AS nb FROM documents
        |  WHERE doc_id % 2 = 1),
        |vr AS (SELECT id, (nb + 3) // 4 AS nf, t.f, nb FROM v,
        |  UNNEST(range(0, (nb + 3) // 4, 2)) AS t(f))
        |SELECT id AS media_id, TRUE AS real_decode,
        |  CAST(nf AS BIGINT) AS n_frames, f AS frame_idx,
        |  CAST(w AS INT) AS frame_w, CAST(h AS INT) AS frame_h,
        |  CAST(pix AS BIGINT) AS pix_sum, CAST(NULL AS BIGINT) AS frame_bytes
        |FROM gp
        |UNION ALL
        |SELECT id, FALSE, nf, f, NULL, NULL, NULL, LEAST(4, nb - f * 4)
        |FROM vr
        |ORDER BY media_id, frame_idx""".stripMargin,
    // Perceptual image hash: the 63-bit dHash replayed bit-for-bit from
    // the synthPngShifted pixel arithmetic (sample grid, adjacent-gray
    // compares, bit packing); twin invariance TRUE by the monotone-shift
    // law; n_same_hash = 2x the ids sharing each replayed hash.
    "q140_image_phash" ->
      """WITH d AS (SELECT doc_id AS id, (doc_id % 7) + 2 AS w,
        |    (doc_id % 5) + 2 AS h FROM documents),
        |bits AS (SELECT id, ty.gy, tx.gx,
        |  CASE WHEN
        |    ((3*id + 5*((tx.gx+1)*w//10) + 7*(ty.gy*h//7)) % 200
        |     + (11*id + 13*((tx.gx+1)*w//10) + 17*(ty.gy*h//7)) % 200
        |     + (19*id + 23*((tx.gx+1)*w//10) + 29*(ty.gy*h//7)) % 200) // 3
        |    >
        |    ((3*id + 5*(tx.gx*w//10) + 7*(ty.gy*h//7)) % 200
        |     + (11*id + 13*(tx.gx*w//10) + 17*(ty.gy*h//7)) % 200
        |     + (19*id + 23*(tx.gx*w//10) + 29*(ty.gy*h//7)) % 200) // 3
        |  THEN (CAST(1 AS BIGINT) << (ty.gy*9 + tx.gx)) ELSE 0 END AS bit
        |  FROM d, UNNEST(range(0, 7)) AS ty(gy), UNNEST(range(0, 9)) AS tx(gx)),
        |hs AS (SELECT id, CAST(SUM(bit) AS BIGINT) AS dhash
        |  FROM bits GROUP BY id),
        |cnt AS (SELECT dhash, CAST(2 * COUNT(*) AS BIGINT) AS n_same_hash
        |  FROM hs GROUP BY dhash)
        |SELECT hs.id AS doc_id, hs.dhash, TRUE AS twin_match,
        |  cnt.n_same_hash
        |FROM hs JOIN cnt USING (dhash) ORDER BY doc_id""".stripMargin,
    // Perceptual audio hash: the 15-bit energy-delta fingerprint
    // replayed from the synthWav sample arithmetic (segment binning by
    // i*16//n, |channel-sum| energies, adjacent compares); polarity
    // twin TRUE by the |.| invariance.
    "q141_audio_phash" ->
      """WITH d AS (SELECT doc_id AS id, (doc_id % 50) + 20 AS n,
        |    (doc_id % 2) + 1 AS c, doc_id % 256 AS m FROM documents),
        |f AS (SELECT id, n, t.i,
        |  ((7*m + 13*t.i) % 201 - 100)
        |  + CASE WHEN c = 2 THEN ((7*m + 13*t.i + 31) % 201 - 100)
        |    ELSE 0 END AS mono
        |  FROM d, UNNEST(range(0, CAST(n AS BIGINT))) AS t(i)),
        |e AS (SELECT id, (i * 16) // n AS seg, SUM(ABS(mono)) AS e
        |  FROM f GROUP BY 1, 2),
        |b AS (SELECT a.id,
        |  CASE WHEN nx.e > a.e
        |    THEN (CAST(1 AS BIGINT) << CAST(a.seg AS INT)) ELSE 0 END AS bit
        |  FROM e a JOIN e nx ON a.id = nx.id AND nx.seg = a.seg + 1)
        |SELECT id AS doc_id, CAST(SUM(bit) AS BIGINT) AS ahash,
        |  TRUE AS twin_match
        |FROM b GROUP BY id ORDER BY doc_id""".stripMargin,
    // Mojibake repair: planted rows gain exactly the CLEAN 13-char
    // suffix (the engine contracted the 17-char mojibake form), ASCII
    // rows are untouched; lengths and tails by construction.
    "q143_mojibake" ->
      """SELECT doc_id,
        |doc_id % 3 = 0 AS changed,
        |CAST(CASE WHEN doc_id % 3 = 0 THEN length(text) + 13
        |  ELSE length(text) END AS BIGINT) AS n_chars,
        |CASE WHEN doc_id % 3 = 0
        |  THEN substring(text || ' café — naïve',
        |    GREATEST(length(text) - 2, 1), 16)
        |  ELSE substring(text, GREATEST(length(text) - 15, 1), 16)
        |END AS tail
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Cross-run image dedup: per-render dHash replayed from the q140 bit
    // arithmetic over the render's BASE id; first-seen-wins per hash.
    "q142_incremental_images" ->
      """WITH r AS (
        |  SELECT doc_id AS mid, 0 AS day, doc_id AS base FROM documents
        |  WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, 1, doc_id - 1 FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id, 1, doc_id FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 7 = 3),
        |dd AS (SELECT mid, day, base, (base % 7) + 2 AS w,
        |  (base % 5) + 2 AS h FROM r),
        |bits AS (SELECT mid, day,
        |  CASE WHEN
        |    ((3*base + 5*((tx.gx+1)*w//10) + 7*(ty.gy*h//7)) % 200
        |     + (11*base + 13*((tx.gx+1)*w//10) + 17*(ty.gy*h//7)) % 200
        |     + (19*base + 23*((tx.gx+1)*w//10) + 29*(ty.gy*h//7)) % 200) // 3
        |    >
        |    ((3*base + 5*(tx.gx*w//10) + 7*(ty.gy*h//7)) % 200
        |     + (11*base + 13*(tx.gx*w//10) + 17*(ty.gy*h//7)) % 200
        |     + (19*base + 23*(tx.gx*w//10) + 29*(ty.gy*h//7)) % 200) // 3
        |  THEN (CAST(1 AS BIGINT) << (ty.gy*9 + tx.gx)) ELSE 0 END AS bit
        |  FROM dd, UNNEST(range(0, 7)) AS ty(gy), UNNEST(range(0, 9)) AS tx(gx)),
        |hs AS (SELECT mid, day, CAST(SUM(bit) AS BIGINT) AS dhash
        |  FROM bits GROUP BY mid, day),
        |keep AS (SELECT dhash, MIN(day * 1000000000 + mid) AS ord
        |  FROM hs GROUP BY dhash)
        |SELECT CAST(ord % 1000000000 AS BIGINT) AS doc_id,
        |CAST(ord // 1000000000 AS INT) AS day
        |FROM keep ORDER BY doc_id""".stripMargin,
    // Cross-run WITHIN-DISTANCE image dedup: every render's dHash
    // replayed from the q140 bit arithmetic over its BASE id (+ the
    // corner-bump term for day-2 drifts), the drop rule replayed
    // EXHAUSTIVELY as bit_count(xor) <= 3 against day-1's distinct
    // hashes — the engine's banded join is recall-lossless (pigeonhole),
    // so the two must agree row-for-row.
    "q144_incremental_images_near" ->
      """WITH r AS (
        |  SELECT doc_id AS mid, 0 AS day, doc_id AS base, 0 AS bump
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, 1, doc_id - 1, 90 FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id, 1, doc_id, 0 FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 7 = 3),
        |dd AS (SELECT mid, day, base, bump, (base % 7) + 2 AS w,
        |  (base % 5) + 2 AS h FROM r),
        |bits AS (SELECT mid, day,
        |  CASE WHEN
        |    ((3*base + 5*((tx.gx+1)*w//10) + 7*(ty.gy*h//7)) % 200
        |     + (11*base + 13*((tx.gx+1)*w//10) + 17*(ty.gy*h//7)) % 200
        |     + (19*base + 23*((tx.gx+1)*w//10) + 29*(ty.gy*h//7)) % 200
        |     + CASE WHEN (tx.gx+1)*w//10 = w-1 AND ty.gy*h//7 = h-1
        |         THEN bump ELSE 0 END) // 3
        |    >
        |    ((3*base + 5*(tx.gx*w//10) + 7*(ty.gy*h//7)) % 200
        |     + (11*base + 13*(tx.gx*w//10) + 17*(ty.gy*h//7)) % 200
        |     + (19*base + 23*(tx.gx*w//10) + 29*(ty.gy*h//7)) % 200
        |     + CASE WHEN tx.gx*w//10 = w-1 AND ty.gy*h//7 = h-1
        |         THEN bump ELSE 0 END) // 3
        |  THEN (CAST(1 AS BIGINT) << (ty.gy*9 + tx.gx)) ELSE 0 END AS bit
        |  FROM dd, UNNEST(range(0, 7)) AS ty(gy), UNNEST(range(0, 9)) AS tx(gx)),
        |hs AS (SELECT mid, day, CAST(SUM(bit) AS BIGINT) AS dhash
        |  FROM bits GROUP BY mid, day),
        |win1 AS (SELECT dhash, MIN(mid) AS mid FROM hs WHERE day = 0
        |  GROUP BY dhash),
        |win2 AS (SELECT dhash, MIN(mid) AS mid FROM hs WHERE day = 1
        |  GROUP BY dhash),
        |d1 AS (SELECT DISTINCT dhash FROM hs WHERE day = 0),
        |drop2 AS (SELECT DISTINCT w2.dhash FROM win2 w2
        |  JOIN d1 ON bit_count(xor(w2.dhash, d1.dhash)) <= 3)
        |SELECT mid AS doc_id, 0 AS day FROM win1
        |UNION ALL
        |SELECT mid, 1 FROM win2
        |WHERE dhash NOT IN (SELECT dhash FROM drop2)
        |ORDER BY doc_id""".stripMargin,
    // Cross-run audio dedup: each render's 15-bit fingerprint replayed
    // from the q141 sample arithmetic over its BASE id (|mono| cancels
    // the day-2 polarity flip); first-seen-wins per fingerprint.
    "q145_incremental_audio" ->
      """WITH r AS (
        |  SELECT doc_id AS mid, 0 AS day, doc_id AS base FROM documents
        |  WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, 1, doc_id - 1 FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id, 1, doc_id FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 7 = 3),
        |d AS (SELECT mid, day, (base % 50) + 20 AS n,
        |  (base % 2) + 1 AS c, base % 256 AS m FROM r),
        |f AS (SELECT mid, day, n, t.i,
        |  ((7*m + 13*t.i) % 201 - 100)
        |  + CASE WHEN c = 2 THEN ((7*m + 13*t.i + 31) % 201 - 100)
        |    ELSE 0 END AS mono
        |  FROM d, UNNEST(range(0, CAST(n AS BIGINT))) AS t(i)),
        |e AS (SELECT mid, day, (i * 16) // n AS seg, SUM(ABS(mono)) AS e
        |  FROM f GROUP BY 1, 2, 3),
        |b AS (SELECT a.mid, a.day,
        |  CASE WHEN nx.e > a.e
        |    THEN (CAST(1 AS BIGINT) << CAST(a.seg AS INT)) ELSE 0 END AS bit
        |  FROM e a JOIN e nx ON a.mid = nx.mid AND a.day = nx.day
        |    AND nx.seg = a.seg + 1),
        |hs AS (SELECT mid, day, CAST(SUM(bit) AS BIGINT) AS ahash
        |  FROM b GROUP BY mid, day),
        |keep AS (SELECT ahash, MIN(day * 1000000000 + mid) AS ord
        |  FROM hs GROUP BY ahash)
        |SELECT CAST(ord % 1000000000 AS BIGINT) AS doc_id,
        |CAST(ord // 1000000000 AS INT) AS day
        |FROM keep ORDER BY doc_id""".stripMargin,
    // Video-sequence fingerprint: the three anchor dHashes replayed from
    // the synthGifShifted gray arithmetic at frames 0, nf//2, nf-1
    // (single gray channel — the indexed palette stores the sample
    // verbatim); twin TRUE by per-frame monotone invariance.
    "q146_video_seq" ->
      """WITH d AS (SELECT doc_id AS id, (doc_id % 5) + 2 AS w,
        |    (doc_id % 4) + 2 AS h, (doc_id % 6) + 2 AS nf FROM documents),
        |fr AS (SELECT id, w, h, nf, t.k,
        |  CASE t.k WHEN 0 THEN 0 WHEN 1 THEN nf // 2 ELSE nf - 1 END AS f
        |  FROM d, UNNEST([0, 1, 2]) AS t(k)),
        |bits AS (SELECT id, k,
        |  CASE WHEN (3*id + 5*((tx.gx+1)*w//10) + 7*(ty.gy*h//7) + 11*f) % 200
        |         >  (3*id + 5*(tx.gx*w//10) + 7*(ty.gy*h//7) + 11*f) % 200
        |  THEN (CAST(1 AS BIGINT) << (ty.gy*9 + tx.gx)) ELSE 0 END AS bit
        |  FROM fr, UNNEST(range(0, 7)) AS ty(gy), UNNEST(range(0, 9)) AS tx(gx)),
        |hs AS (SELECT id, k, CAST(SUM(bit) AS BIGINT) AS hsh
        |  FROM bits GROUP BY 1, 2)
        |SELECT d.id AS doc_id, CAST(nf AS INT) AS n_frames,
        |  MAX(CASE WHEN k = 0 THEN hsh END) AS h_first,
        |  MAX(CASE WHEN k = 1 THEN hsh END) AS h_mid,
        |  MAX(CASE WHEN k = 2 THEN hsh END) AS h_last,
        |  TRUE AS twin_match
        |FROM d JOIN hs ON d.id = hs.id
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // Composed media curation: image survivors = min id per replayed
    // dHash (q140 arithmetic), audio = min id per replayed 31-bit
    // fingerprint (q148 spine, no bump), junk = min id per byte class
    // (construction mods) above the size gate — origs always beat
    // offset twins, so every perceptual group keeps its original.
    "q149_media_curation" ->
      """WITH imgd AS (SELECT doc_id AS id, (doc_id % 7) + 2 AS w,
        |    (doc_id % 5) + 2 AS h FROM documents WHERE doc_id % 3 = 0),
        |ibits AS (SELECT id,
        |  CASE WHEN
        |    ((3*id + 5*((tx.gx+1)*w//10) + 7*(ty.gy*h//7)) % 200
        |     + (11*id + 13*((tx.gx+1)*w//10) + 17*(ty.gy*h//7)) % 200
        |     + (19*id + 23*((tx.gx+1)*w//10) + 29*(ty.gy*h//7)) % 200) // 3
        |    >
        |    ((3*id + 5*(tx.gx*w//10) + 7*(ty.gy*h//7)) % 200
        |     + (11*id + 13*(tx.gx*w//10) + 17*(ty.gy*h//7)) % 200
        |     + (19*id + 23*(tx.gx*w//10) + 29*(ty.gy*h//7)) % 200) // 3
        |  THEN (CAST(1 AS BIGINT) << (ty.gy*9 + tx.gx)) ELSE 0 END AS bit
        |  FROM imgd, UNNEST(range(0, 7)) AS ty(gy), UNNEST(range(0, 9)) AS tx(gx)),
        |ihs AS (SELECT id, CAST(SUM(bit) AS BIGINT) AS dh
        |  FROM ibits GROUP BY id),
        |ikeep AS (SELECT MIN(id) AS doc_id FROM ihs GROUP BY dh),
        |ad AS (SELECT doc_id AS id, (doc_id % 50) + 20 AS n,
        |  (doc_id % 2) + 1 AS c, doc_id % 256 AS m FROM documents
        |  WHERE doc_id % 3 = 1),
        |af AS (SELECT id, n, t.i,
        |  ((7*m + 13*t.i) % 201 - 100)
        |  + CASE WHEN c = 2 THEN ((7*m + 13*t.i + 31) % 201 - 100)
        |    ELSE 0 END AS mono
        |  FROM ad, UNNEST(range(0, CAST(n AS BIGINT))) AS t(i)),
        |ae0 AS (SELECT id, (i * 32) // n AS seg, SUM(ABS(mono)) AS e
        |  FROM af GROUP BY 1, 2),
        |aspine AS (SELECT id, t.sg FROM ad, UNNEST(range(0, 32)) AS t(sg)),
        |ae AS (SELECT aspine.id, aspine.sg, COALESCE(ae0.e, 0) AS e
        |  FROM aspine LEFT JOIN ae0 ON aspine.id = ae0.id
        |    AND aspine.sg = ae0.seg),
        |ab AS (SELECT a.id,
        |  CASE WHEN nx.e > a.e
        |    THEN (CAST(1 AS BIGINT) << CAST(a.sg AS INT)) ELSE 0 END AS bit
        |  FROM ae a JOIN ae nx ON a.id = nx.id AND nx.sg = a.sg + 1),
        |ahs AS (SELECT id, CAST(SUM(bit) AS BIGINT) AS ah
        |  FROM ab GROUP BY id),
        |akeep AS (SELECT MIN(id) AS doc_id FROM ahs GROUP BY ah),
        |jkeep AS (SELECT MIN(doc_id) AS doc_id FROM documents
        |  WHERE doc_id % 3 = 2 AND (doc_id % 17) + 3 >= 5
        |  GROUP BY doc_id % 199, doc_id % 17)
        |SELECT doc_id, 'image' AS media_kind FROM ikeep
        |UNION ALL SELECT doc_id, 'audio' FROM akeep
        |UNION ALL SELECT doc_id, 'other' FROM jkeep
        |ORDER BY doc_id""".stripMargin,
    // Cross-run within-distance audio dedup: each render's 31-bit
    // energy-delta fingerprint replayed over a 32-segment spine (empty
    // segments = 0 via LEFT JOIN), frame-0 bump term for day-2 drifts,
    // drop rule replayed exhaustively as bit_count(xor) <= 2 against
    // day-1's distinct fingerprints.
    "q148_incremental_audio_near" ->
      """WITH r AS (
        |  SELECT doc_id AS mid, 0 AS day, doc_id AS base, 0 AS bump
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, 1, doc_id - 1, 40 FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id, 1, doc_id, 0 FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 7 = 3),
        |d AS (SELECT mid, day, bump, (base % 50) + 20 AS n,
        |  (base % 2) + 1 AS c, base % 256 AS m FROM r),
        |f AS (SELECT mid, day, n, t.i,
        |  ((7*m + 13*t.i) % 201 - 100)
        |  + CASE WHEN c = 2 THEN ((7*m + 13*t.i + 31) % 201 - 100)
        |    ELSE 0 END
        |  + CASE WHEN t.i = 0 THEN c * bump ELSE 0 END AS mono
        |  FROM d, UNNEST(range(0, CAST(n AS BIGINT))) AS t(i)),
        |e0 AS (SELECT mid, day, (i * 32) // n AS seg, SUM(ABS(mono)) AS e
        |  FROM f GROUP BY 1, 2, 3),
        |spine AS (SELECT mid, day, t.sg FROM r,
        |  UNNEST(range(0, 32)) AS t(sg)),
        |e AS (SELECT spine.mid, spine.day, spine.sg,
        |    COALESCE(e0.e, 0) AS e
        |  FROM spine LEFT JOIN e0 ON spine.mid = e0.mid
        |    AND spine.day = e0.day AND spine.sg = e0.seg),
        |b AS (SELECT a.mid, a.day,
        |  CASE WHEN nx.e > a.e
        |    THEN (CAST(1 AS BIGINT) << CAST(a.sg AS INT)) ELSE 0 END AS bit
        |  FROM e a JOIN e nx ON a.mid = nx.mid AND a.day = nx.day
        |    AND nx.sg = a.sg + 1),
        |hs AS (SELECT mid, day, CAST(SUM(bit) AS BIGINT) AS h
        |  FROM b GROUP BY 1, 2),
        |win1 AS (SELECT h, MIN(mid) AS mid FROM hs WHERE day = 0
        |  GROUP BY h),
        |win2 AS (SELECT h, MIN(mid) AS mid FROM hs WHERE day = 1
        |  GROUP BY h),
        |d1 AS (SELECT DISTINCT h FROM hs WHERE day = 0),
        |drop2 AS (SELECT DISTINCT w2.h FROM win2 w2
        |  JOIN d1 ON bit_count(xor(w2.h, d1.h)) <= 2)
        |SELECT mid AS doc_id, 0 AS day FROM win1
        |UNION ALL
        |SELECT mid, 1 FROM win2
        |WHERE h NOT IN (SELECT h FROM drop2)
        |ORDER BY doc_id""".stripMargin,
    // Cross-run video-sequence dedup: all three anchor dHashes replayed
    // per render from the gray construction over its BASE id (bump on
    // frame 0's corner for day-2 drifts), drop rule replayed
    // exhaustively (equal nf + per-anchor bit_count <= 3) against
    // day-1's distinct fingerprints.
    "q147_incremental_video" ->
      """WITH r AS (
        |  SELECT doc_id AS mid, 0 AS day, doc_id AS base, 0 AS bump
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, 1, doc_id - 1, 30 FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id, 1, doc_id, 0 FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 7 = 3),
        |dd AS (SELECT mid, day, base, bump, (base % 5) + 2 AS w,
        |  (base % 4) + 2 AS h, (base % 6) + 2 AS nf FROM r),
        |fr AS (SELECT mid, day, base, bump, w, h, nf, t.k,
        |  CASE t.k WHEN 0 THEN 0 WHEN 1 THEN nf // 2 ELSE nf - 1 END AS f
        |  FROM dd, UNNEST([0, 1, 2]) AS t(k)),
        |bits AS (SELECT mid, day, k,
        |  CASE WHEN
        |    ((3*base + 5*((tx.gx+1)*w//10) + 7*(ty.gy*h//7) + 11*f) % 200
        |     + CASE WHEN f = 0 AND (tx.gx+1)*w//10 = w-1
        |         AND ty.gy*h//7 = h-1 THEN bump ELSE 0 END)
        |    >
        |    ((3*base + 5*(tx.gx*w//10) + 7*(ty.gy*h//7) + 11*f) % 200
        |     + CASE WHEN f = 0 AND tx.gx*w//10 = w-1
        |         AND ty.gy*h//7 = h-1 THEN bump ELSE 0 END)
        |  THEN (CAST(1 AS BIGINT) << (ty.gy*9 + tx.gx)) ELSE 0 END AS bit
        |  FROM fr, UNNEST(range(0, 7)) AS ty(gy), UNNEST(range(0, 9)) AS tx(gx)),
        |hs0 AS (SELECT mid, day, k, CAST(SUM(bit) AS BIGINT) AS hsh
        |  FROM bits GROUP BY 1, 2, 3),
        |hs AS (SELECT h.mid, h.day, MAX(dd.nf) AS nf,
        |    MAX(CASE WHEN k = 0 THEN hsh END) AS h0,
        |    MAX(CASE WHEN k = 1 THEN hsh END) AS h1,
        |    MAX(CASE WHEN k = 2 THEN hsh END) AS h2
        |  FROM hs0 h JOIN dd ON h.mid = dd.mid AND h.day = dd.day
        |  GROUP BY 1, 2),
        |win1 AS (SELECT nf, h0, h1, h2, MIN(mid) AS mid FROM hs
        |  WHERE day = 0 GROUP BY 1, 2, 3, 4),
        |win2 AS (SELECT nf, h0, h1, h2, MIN(mid) AS mid FROM hs
        |  WHERE day = 1 GROUP BY 1, 2, 3, 4),
        |d1 AS (SELECT DISTINCT nf, h0, h1, h2 FROM hs WHERE day = 0),
        |drop2 AS (SELECT DISTINCT w2.mid FROM win2 w2
        |  JOIN d1 ON w2.nf = d1.nf
        |    AND bit_count(xor(w2.h0, d1.h0)) <= 3
        |    AND bit_count(xor(w2.h1, d1.h1)) <= 3
        |    AND bit_count(xor(w2.h2, d1.h2)) <= 3)
        |SELECT mid AS doc_id, 0 AS day FROM win1
        |UNION ALL
        |SELECT mid, 1 FROM win2
        |WHERE mid NOT IN (SELECT mid FROM drop2)
        |ORDER BY doc_id""".stripMargin,
    // Mixed-media dispatch: per-type verdict values replayed from the
    // construction formulas — image rows are the q45 pixel arithmetic,
    // audio rows the q127 PCM arithmetic, non-decodable rows the stub's
    // one-hot histogram (single-valued payload). The engine side only
    // reports what the dispatching decoder actually produced.
    "q135_media_dispatch" ->
      """SELECT doc_id AS media_id,
        |CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |  WHEN 1 THEN 'audio' ELSE 'other' END AS mtype,
        |CAST(CASE CAST(doc_id % 3 AS INT)
        |  WHEN 0 THEN (doc_id % 7) + 2
        |  WHEN 1 THEN CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
        |    WHEN 2 THEN 16000 ELSE 22050 END
        |  ELSE ((doc_id % 199) + 1) % 5 END AS BIGINT) AS v1,
        |CAST(CASE CAST(doc_id % 3 AS INT)
        |  WHEN 0 THEN (doc_id % 5) + 2
        |  WHEN 1 THEN (doc_id % 2) + 1
        |  ELSE 1 END AS BIGINT) AS v2,
        |CAST(CASE CAST(doc_id % 3 AS INT)
        |  WHEN 0 THEN list_sum(list_transform(range(0, ((doc_id % 7) + 2) * ((doc_id % 5) + 2)),
        |    i -> (3*(doc_id % 256) + 5*(i % ((doc_id % 7) + 2)) + 7*(i // ((doc_id % 7) + 2))) % 256))
        |  WHEN 1 THEN (doc_id % 50) + 20
        |  ELSE 0 END AS BIGINT) AS v3,
        |CAST(CASE CAST(doc_id % 3 AS INT)
        |  WHEN 0 THEN list_sum(list_transform(range(0, ((doc_id % 7) + 2) * ((doc_id % 5) + 2)),
        |    i -> (11*(doc_id % 256) + 13*(i % ((doc_id % 7) + 2)) + 17*(i // ((doc_id % 7) + 2))) % 256))
        |  WHEN 1 THEN list_sum(list_transform(range(0, (doc_id % 50) + 20),
        |    i -> (7*(doc_id % 256) + 13*i) % 201 - 100))
        |  ELSE 0 END AS BIGINT) AS v4,
        |CAST(CASE CAST(doc_id % 3 AS INT)
        |  WHEN 0 THEN list_sum(list_transform(range(0, ((doc_id % 7) + 2) * ((doc_id % 5) + 2)),
        |    i -> (19*(doc_id % 256) + 23*(i % ((doc_id % 7) + 2)) + 29*(i // ((doc_id % 7) + 2))) % 256))
        |  WHEN 1 THEN CASE WHEN doc_id % 2 = 1 THEN
        |    list_sum(list_transform(range(0, (doc_id % 50) + 20),
        |      i -> (7*(doc_id % 256) + 13*i + 31) % 201 - 100)) ELSE 0 END
        |  ELSE 0 END AS BIGINT) AS v5
        |FROM documents ORDER BY media_id""".stripMargin,
    // PSL registered domains: the oracle replays BOTH algorithms — the
    // full PSL CASE chain over the same fixture rules (exception rule
    // first, then longest-match tiers 4 labels down to 1 where each
    // tier ORs its plain IN list with the wildcard-base equality whose
    // effective length lands on that tier, one extra label in front on
    // a hit, last-two fallback) and the 7-entry heuristic — so
    // n_diverge pins exactly where the table corrects the heuristic.
    // Canonical strings are replayed by construction arithmetic (https,
    // www/case fold, trailing slash, UPPERCASE tracker dropped); keep =
    // not blocklisted (scheme/extension are clean by construction).
    "q134_url_psl" ->
      """WITH u AS (SELECT doc_id, source,
        |  CASE CAST(doc_id%5 AS INTEGER)
        |    WHEN 0 THEN 'www.Agency' || CAST(doc_id%7 AS VARCHAR) || '.GO.JP'
        |    WHEN 1 THEN 'User' || CAST(doc_id%11 AS VARCHAR) || '.GitHub.IO'
        |    WHEN 2 THEN 'school' || CAST(doc_id%13 AS VARCHAR) || '.k12.MA.US'
        |    WHEN 3 THEN 'shop.example' || CAST(doc_id%3 AS VARCHAR) || '.com.au'
        |    ELSE CASE
        |      WHEN doc_id%3 = 0 THEN 'x.site' || CAST(doc_id%17 AS VARCHAR) || '.org'
        |      WHEN doc_id%3 = 1 THEN 'b.test' || CAST(doc_id%7 AS VARCHAR) || '.CK'
        |      WHEN doc_id%2 = 0 THEN 'visit.City.kobe.JP'
        |      ELSE 'ward.c' || CAST(doc_id%4 AS VARCHAR) || '.kobe.JP'
        |    END END AS rawhost
        |  FROM documents),
        |h AS (SELECT doc_id, source,
        |  regexp_replace(lower(rawhost), '^www\.', '') AS host FROM u),
        |c AS (SELECT doc_id, source, host,
        |  'https://' || host || '/Doc/' || CAST(doc_id%50 AS VARCHAR) ||
        |    CASE WHEN doc_id%2=0 THEN '?p=' || CAST(doc_id%9 AS VARCHAR)
        |      ELSE '' END AS canon,
        |  string_split(host, '.') AS ls FROM h),
        |d AS (SELECT doc_id, source, canon,
        |  CASE
        |    WHEN len(ls) >= 3 AND array_to_string(ls[len(ls)-2:len(ls)], '.')
        |      = 'city.kobe.jp' THEN 'city.kobe.jp'
        |    WHEN len(ls) > 4 AND array_to_string(ls[len(ls)-3:len(ls)], '.')
        |      IN ('com','org','net','io','uk','jp','us','au','co.uk','com.au',
        |          'go.jp','co.jp','github.io','k12.ma.us')
        |      THEN array_to_string(ls[len(ls)-4:len(ls)], '.')
        |    WHEN len(ls) > 3 AND (array_to_string(ls[len(ls)-2:len(ls)], '.')
        |      IN ('com','org','net','io','uk','jp','us','au','co.uk','com.au',
        |          'go.jp','co.jp','github.io','k12.ma.us')
        |      OR array_to_string(ls[len(ls)-1:len(ls)], '.') = 'kobe.jp')
        |      THEN array_to_string(ls[len(ls)-3:len(ls)], '.')
        |    WHEN len(ls) > 2 AND (array_to_string(ls[len(ls)-1:len(ls)], '.')
        |      IN ('com','org','net','io','uk','jp','us','au','co.uk','com.au',
        |          'go.jp','co.jp','github.io','k12.ma.us')
        |      OR ls[len(ls)] = 'ck')
        |      THEN array_to_string(ls[len(ls)-2:len(ls)], '.')
        |    WHEN len(ls) > 1 AND ls[len(ls)]
        |      IN ('com','org','net','io','uk','jp','us','au','co.uk','com.au',
        |          'go.jp','co.jp','github.io','k12.ma.us')
        |      THEN array_to_string(ls[len(ls)-1:len(ls)], '.')
        |    ELSE array_to_string(ls[greatest(len(ls)-1,1):len(ls)], '.')
        |  END AS psl_dom,
        |  CASE WHEN len(ls) >= 3 AND ls[len(ls)-1] IN
        |      ('co','com','net','org','gov','ac','edu')
        |    THEN array_to_string(ls[len(ls)-2:len(ls)], '.')
        |    ELSE array_to_string(ls[greatest(len(ls)-1,1):len(ls)], '.')
        |  END AS heur_dom FROM c)
        |SELECT source, COUNT(*) AS n_urls,
        |CAST(SUM(CASE WHEN psl_dom <> 'site3.org' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_keep,
        |CAST(SUM(length(canon)) AS BIGINT) AS canon_chars,
        |CAST(SUM(CASE WHEN psl_dom <> heur_dom THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_diverge,
        |CAST(SUM(length(psl_dom)) AS BIGINT) AS dom_chars,
        |MAX(psl_dom) AS max_dom,
        |COUNT(DISTINCT psl_dom) AS n_domains
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
  )

  /** One DuckDB round of [[graft.ops.CorpusStats.bpeTrain]] as CTEs over
    * `t{n-1}(did, tk)`: top-pair selection on the (left, right) key with
    * the (cnt DESC, l, r) tie-break, then the greedy merge replayed via
    * run-parity — within each maximal run of CONSECUTIVE match positions
    * the left-to-right scan merges exactly the even offsets (overlapping
    * matches require t[i+1] = b = a, i.e. runs of identical tokens, where
    * greedy consumes alternating pairs; for a ≠ b every run has length 1
    * and the parity rule degenerates to "merge every match"). */
  private def sqlBpeRound(n: Int): String =
    s"""u$n AS (SELECT did, UNNEST(tk) AS tok, UNNEST(range(1, len(tk) + 1)) AS i
       |  FROM t${n - 1}),
       |top$n AS (SELECT tok AS a, nxt AS b, COUNT(*) AS cnt FROM (
       |    SELECT did, tok, LEAD(tok) OVER (PARTITION BY did ORDER BY i) AS nxt
       |    FROM u$n)
       |  WHERE nxt IS NOT NULL GROUP BY 1, 2
       |  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
       |m$n AS (SELECT did, i, tok, COALESCE(tok = (SELECT a FROM top$n)
       |    AND LEAD(tok) OVER (PARTITION BY did ORDER BY i) = (SELECT b FROM top$n),
       |    FALSE) AS mt
       |  FROM u$n),
       |k$n AS (SELECT did, i, tok, CASE WHEN mt THEN
       |    (ROW_NUMBER() OVER (PARTITION BY did, runid ORDER BY i) - 1) % 2 = 0
       |    ELSE FALSE END AS kept
       |  FROM (SELECT *, CASE WHEN mt THEN
       |      i - ROW_NUMBER() OVER (PARTITION BY did, mt ORDER BY i) END AS runid
       |    FROM m$n)),
       |e$n AS (SELECT did, i, kept,
       |    CASE WHEN kept THEN tok || ' ' || LEAD(tok) OVER (PARTITION BY did ORDER BY i)
       |      ELSE tok END AS otok,
       |    COALESCE(LAG(kept) OVER (PARTITION BY did ORDER BY i), FALSE) AS skip
       |  FROM k$n),
       |t$n AS (SELECT did, LIST(otok ORDER BY i) AS tk FROM e$n WHERE NOT skip
       |  GROUP BY did)""".stripMargin

  /** DuckDB replay of [[graft.ops.CorpusStats.bpeEncode]] after `rounds`
    * training rounds on the same corpus: the trainer's final token table
    * t{rounds} IS the encoded corpus, so the oracle aggregates it per
    * source. Exercises train + encode end-to-end at the value level. */
  private def sqlBpeEncode(rounds: Int): String = {
    val blocks = (1 to rounds).map(sqlBpeRound).mkString(",\n")
    s"""WITH t0 AS (SELECT doc_id AS did,
       |  regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
       |$blocks
       |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |CAST(SUM(len(t$rounds.tk)) AS BIGINT) AS sum_tokens
       |FROM t$rounds JOIN documents d ON t$rounds.did = d.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Full [[sqlBpeRound]] replay of `rounds` BPE merge rounds — one output
    * row per round, matching [[graft.ops.CorpusStats.bpeTrain]]. */
  // defs, not vals: referenced from the `oracles` map initializer, which
  // in file order runs before vals defined down here would be assigned —
  // a val would interpolate as null into the SQL
  /** Word-level t0: Spark's split(trim(text), '\s+') tokenization. */
  private def sqlWordT0 = "regexp_split_to_array(trim(text), '\\s+')"

  /** Byte-level t0 ([[graft.ops.CorpusStats.byteTokens]]): per word, the
    * UTF-8 bytes as decimal strings plus an `</w>` marker; empty words
    * vanish (ASCII corpus → ascii(char) == byte, the q45/q46 contract). */
  private def sqlByteT0 =
    """flatten([[CAST(ascii(c) AS VARCHAR)
      |    FOR c IN regexp_split_to_array(w, '')] || ['</w>']
      |  FOR w IN list_filter(regexp_split_to_array(trim(text), '\s+'),
      |    w -> w <> '')])""".stripMargin

  private def sqlBpeTrain(rounds: Int, t0: String = sqlWordT0): String = {
    val blocks = (1 to rounds).map(sqlBpeRound).mkString(",\n")
    // WHERE EXISTS: an exhausted round (empty topN) emits NO row, matching
    // the engine's early stop — without it the oracle would pad NULL-pair
    // rows on degenerate corpora where no document has two tokens left
    val rows = (1 to rounds).map { n =>
      s"""SELECT CAST($n AS INT) AS round,
         |(SELECT a || ' ' || b FROM top$n) AS pair,
         |(SELECT CAST(cnt AS BIGINT) FROM top$n) AS cnt,
         |(SELECT CAST(SUM(len(tk)) AS BIGINT) FROM t$n) AS n_tokens_after
         |WHERE EXISTS (SELECT 1 FROM top$n)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t0 AS (SELECT doc_id AS did,
       |  $t0 AS tk FROM documents),
       |$blocks
       |$rows
       |ORDER BY round""".stripMargin
  }

  // ------------------- dedup / ANN queries (oracle or self-checking) ----

  /** Documents plus planted near-duplicate twins (one token appended, ids
    * offset by 1,000,000) — the detector must find the planted pairs. */
  private def withPlantedTwins(docs: DataFrame): DataFrame = {
    val twins = docs
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .withColumn("text", concat(col("text"), lit(" twin")))
    docs.unionByName(twins)
  }

  /** MinHash + LSH near-dup detection, reported as an ENGINE-INDEPENDENT
    * planted-recall verdict (the q47/q52 pattern): `n_planted` is the
    * number of planted twin pairs (id, id+1,000,000 — one per document)
    * and `recall_ok` is true iff the detector recovered ≥95% of them.
    * Both values are knowable without running LSH (the oracle asserts
    * COUNT(*) and TRUE), so the driver's hash-compare becomes a hard
    * recall gate on the banded-LSH candidate generation, which itself is
    * not SQL-expressible (xxhash64 band keys). */
  val q40MinhashNearDup: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val pairs = Dedup.minhashNearDups(withPlantedTwins(docs), "doc_id", "text",
      shingleLen = 3, numHashes = 32, bands = 4, minSim = 0.5)
    val found = pairs.agg(
      sum(when(col("id_b") === col("id_a") + 1000000L, 1L).otherwise(0L))
        .as("n_planted_found"))
    docs.agg(count(lit(1)).as("n_planted")).crossJoin(found)
      .select(col("n_planted"),
        (col("n_planted_found") * 100L >= col("n_planted") * 95L).as("recall_ok"))
  }

  /** SimHash signatures (60-bit) via the native codegen'd Catalyst
    * expression, CROSS-CHECKED in-query against the independent
    * higher-order-function formulation ([[Dedup.simhash]]) on a 5%
    * deterministic sample (doc_id % 20 — the HOF path evaluates
    * interpreted, so checking every row would dominate the runtime; the
    * full-corpus equivalence is pinned by FunctionsSpec). The simhash
    * VALUE is xxhash64-based (Spark-specific → no external value oracle
    * by definition), so the emitted column is the engine-independent
    * per-row verdict `native_eq_hof` — trivially true off-sample (the
    * native expression still evaluates: it is compared to itself), the
    * real native-vs-HOF comparison on the sample. The oracle asserts
    * one TRUE per doc, so a single divergent signature hash-mismatches. */
  val q41Simhash: Q = (s, dir) => {
    val native = graft.functions.NativeFunctions.graft_simhash(col("text"))
    load(s, dir, "documents")
      .select(col("doc_id"),
        (native <=> when(pmod(col("doc_id"), lit(20)) === 0,
          Dedup.simhash(TextOps.tokens(col("text")))).otherwise(native))
          .as("native_eq_hof"))
      .orderBy("doc_id")
  }

  /** Exact n-gram Jaccard near-dup pairs with single-permutation MinHash
    * bucketing ([[Dedup.minShingleJaccardPairs]]) — fully SQL-expressible
    * (min-shingle bucket + |A∩B|/|A∪B| over string shingles), so this one
    * has a true DuckDB value oracle. The banded multi-hash scale path
    * (Dedup.ngramJaccardNearDups) is pinned by OpsSpec planted recall. */
  val q42NgramJaccard: Q = (s, dir) => {
    val docs = withPlantedTwins(load(s, dir, "documents"))
    Dedup.minShingleJaccardPairs(docs, "doc_id", "text", shingleLen = 3, minJaccard = 0.5)
      .orderBy("id_a", "id_b")
  }

  /** LSH-bucketed approximate NN (scale path of q26). The hyperplane
    * signatures are deterministic literals ([[Similarity.hyperplanes]]), so
    * the whole probe — bucketing included — replays exactly in DuckDB:
    * a true value oracle for an ANN query. */
  val q43AnnLsh: Q = (s, dir) => {
    val emb = load(s, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    Similarity.lshTopK(emb, "vec_id", "embedding", query, dim = query.length, k = 10, bits = 6)
  }

  /** Embedding-cosine near-dup pairs over planted identical twins, with
    * size-capped LSH buckets. Explicit bits=8 (not auto) so the DuckDB
    * oracle can replay the identical bucketing from the plane literals. */
  val q44EmbedNearDup: Q = (s, dir) => {
    val emb = load(s, dir, "embeddings")
    val twins = emb.withColumn("vec_id", col("vec_id") + lit(1000000L))
    Similarity.cosineNearDupPairs(emb.unionByName(twins), "vec_id", "embedding",
      dim = EmbeddingDim, threshold = 0.99, bits = 8, maxBucket = 4096)
      .orderBy("id_a", "id_b")
  }

  /** Multimodal decode stage — REAL image decode through the JDK's
    * `javax.imageio` ([[Multimodal.ImageIoCodec]]), no external
    * dependency. One genuine PNG is synthesized per document id
    * ([[Multimodal.synthPng]]: size and RGB gradients are integer
    * formulas of the id), then the SAME [[Multimodal.decodeFeatures]]
    * batch seam every codec uses decodes it back. Output is only what
    * the decoder read out of the compressed bytes — width, height,
    * per-channel pixel sums — which the oracle reproduces from the
    * formulas by pure integer arithmetic. A stubbed decode cannot pass:
    * DEFLATE destroys any byte↔pixel correspondence, so matching sums
    * prove real pixel decoding end to end. */
  val q45DecodeFeatures: Q = (s, dir) => {
    val media = Multimodal.synthImages(
      load(s, dir, "documents").select("doc_id"), "doc_id")
    Multimodal.decodeFeatures(media, featureDim = 5,
        codec = Multimodal.ImageIoCodec)
      .select(col("media_id"),
        try_element_at(col("features"), lit(1)).cast("long").as("width"),
        try_element_at(col("features"), lit(2)).cast("long").as("height"),
        try_element_at(col("features"), lit(3)).cast("long").as("r_sum"),
        try_element_at(col("features"), lit(4)).cast("long").as("g_sum"),
        try_element_at(col("features"), lit(5)).cast("long").as("b_sum"))
      .orderBy("media_id")
  }

  /** Multimodal AUDIO decode stage — REAL PCM decode through the JDK's
    * `javax.sound.sampled` ([[Multimodal.WavCodec]]), no external
    * dependency. One genuine RIFF/WAVE file is synthesized per document
    * id ([[Multimodal.synthWav]]: rate, channel count, frame count and
    * 16-bit samples are integer formulas of the id), then the SAME
    * [[Multimodal.decodeFeatures]] batch seam every codec uses decodes
    * it back. Output is only what the PCM reader parsed out of the
    * container — sample rate, channels, frames, per-channel sample sums
    * — which the oracle reproduces from the formulas by pure integer
    * arithmetic. A byte-histogram stub cannot pass: the header fields
    * and the interleaved little-endian sample stream have no byte-level
    * correspondence a stub could exploit. */
  val q127AudioDecode: Q = (s, dir) => {
    val media = Multimodal.synthAudio(
      load(s, dir, "documents").select("doc_id"), "doc_id")
    Multimodal.decodeFeatures(media, featureDim = 5,
        codec = Multimodal.WavCodec)
      .select(col("media_id"),
        try_element_at(col("features"), lit(1)).cast("long").as("sample_rate"),
        try_element_at(col("features"), lit(2)).cast("long").as("channels"),
        try_element_at(col("features"), lit(3)).cast("long").as("n_frames"),
        try_element_at(col("features"), lit(4)).cast("long").as("ch0_sum"),
        try_element_at(col("features"), lit(5)).cast("long").as("ch1_sum"))
      .orderBy("media_id")
  }

  /** Mixed-media decode DISPATCH ([[Multimodal.JdkCodec]] — image bytes
    * through the real ImageIO decoder, PCM audio through the real
    * `javax.sound.sampled` decoder, non-decodable payloads through the
    * documented stub fallback) — the q45/q127 contract, dispatch
    * edition: ONE heterogeneous table ([[Multimodal.synthMixed]], type
    * by `id mod 3`), one decode pass, and per-type verdict values the
    * oracle replays by integer arithmetic. Image rows re-pin the q45
    * width/height/channel-sum formulas, audio rows the q127 rate/
    * channels/frames/sample-sum formulas, and the non-decodable rows
    * pin the stub's one-hot histogram (single-valued payload → bucket
    * `((id mod 199)+1) mod 5` at exactly 1.0). A dispatch bug in any
    * direction — image bytes hitting the stub, garbage hitting a real
    * decoder — changes the values and the hash mismatches. */
  val q135MediaDispatch: Q = (s, dir) => {
    val media = Multimodal.synthMixed(
      load(s, dir, "documents").select("doc_id"), "doc_id")
    val dec = Multimodal.decodeFeatures(media, featureDim = 5,
      codec = Multimodal.JdkCodec)
    val m3 = pmod(col("media_id"), lit(3L))
    def f(i: Int) = try_element_at(col("features"), lit(i))
    dec.select(col("media_id"),
        when(m3 === 0L, lit("image")).when(m3 === 1L, lit("audio"))
          .otherwise(lit("other")).as("mtype"),
        when(m3 === 2L, array_position(col("features"), lit(1.0f)) - 1L)
          .otherwise(f(1).cast("long")).as("v1"),
        when(m3 === 2L, size(filter(col("features"), x => x > 0f)).cast("long"))
          .otherwise(f(2).cast("long")).as("v2"),
        when(m3 === 2L, lit(0L)).otherwise(f(3).cast("long")).as("v3"),
        when(m3 === 2L, lit(0L)).otherwise(f(4).cast("long")).as("v4"),
        when(m3 === 2L, lit(0L))
          .otherwise(coalesce(f(5).cast("long"), lit(0L))).as("v5"))
      .orderBy("media_id")
  }

  /** HTML/boilerplate main-content extraction ([[Html.extract]] — the
    * jusText-style block-segmentation + link-density stage every
    * pre-C4 web pipeline runs first). Pages are CONSTRUCTED per
    * document with a known block skeleton: link-dense nav (text 18,
    * anchors 16), the document text as `<p>` #1, a fixed-format `<p>`
    * #2, two pure-link list items (7 chars each), and a footer (text
    * 22, anchors 12). The engine segments/strips/scores the real HTML;
    * the oracle replays the expected outcome by arithmetic on the raw
    * text. `n_exact_recovery` counts documents whose extracted content
    * is CHARACTER-EXACT equal to the whitespace-normalized original
    * text + paragraph 2 — the strongest possible recovery pin.
    *
    * Corpus assumption (load-bearing, verified for the synthetic
    * `documents` table): the text contains no `<...>` sequences. The
    * engine's [[Html.TagPattern]] strips any angle-bracket run from
    * block text while the oracle's whitespace-normalization keeps it,
    * so angle-bracket text would break the hash match — a corpus that
    * may carry them must HTML-escape `col("text")` on BOTH sides when
    * constructing the page. */
  val q128HtmlExtract: Q = (s, dir) => {
    val docs = load(s, dir, "documents").select("doc_id", "source", "text")
    val p2 = concat(lit("Article body continues with further detail for doc "),
      col("doc_id").cast("string"), lit("."))
    val html = concat(
      lit("<html><body><nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
        "<a href=\"/contact\">Contact</a></nav><p>"),
      col("text"),
      lit("</p><p>"), p2, lit("</p>" +
        "<ul><li><a href=\"/t1\">tag one</a></li>" +
        "<li><a href=\"/t2\">tag two</a></li></ul>" +
        "<footer>(c) 2026 <a href=\"/tos\">Terms</a> " +
        "<a href=\"/privacy\">Privacy</a></footer></body></html>"))
    val nt = trim(regexp_replace(col("text"), "\\s+", " "))
    val expected = concat(nt, lit(" "), p2)
    Html.extract(docs.withColumn("html", html), "html")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_blocks").cast("long")).as("blocks"),
        sum(col("n_kept").cast("long")).as("kept"),
        sum(col("content_len").cast("long")).as("content_chars"),
        sum(col("boiler_len").cast("long")).as("boiler_chars"),
        sum(when(col("content") === expected, 1L).otherwise(0L))
          .as("n_exact_recovery"))
      .orderBy("source")
  }

  /** URL canonicalization + filtering ([[Url]]) — the front stage of a
    * web-crawl pipeline. One deliberately-messy URL is CONSTRUCTED per
    * document (scheme/host case variants, `www.`, default ports,
    * trailing slashes, tracking params in shuffled positions, fragments,
    * asset extensions, a blocklisted domain — all integer formulas of
    * `doc_id`), the engine canonicalizes/marks it, and the oracle
    * replays the ENTIRE canonicalization in SQL on the same constructed
    * strings: keep counts, distinct canonical URLs, distinct registered
    * domains, total canonical characters and the max canonical string.
    * Distinct counts are two-phase (distinct → count), never a
    * multi-distinct Expand (the q47 shape rule). */
  val q129UrlCanon: Q = (s, dir) => {
    val docs = load(s, dir, "documents").select("doc_id", "source")
    val d = col("doc_id")
    def m(k: Long) = pmod(d, lit(k))
    val url = concat(
      when(m(2) === 0L, lit("HTTP")).otherwise(lit("https")), lit("://"),
      when(m(5) === 0L, lit("WWW.")).otherwise(lit("")),
      when(m(13) === 0L, lit("Spam.Tracker.NET"))
        .when(m(3) === 0L, lit("Example.COM"))
        .when(m(3) === 1L, lit("news.example.co.uk"))
        .otherwise(lit("cdn.assets.org")),
      when(m(7) === 0L, when(m(2) === 0L, lit(":80")).otherwise(lit(":443")))
        .otherwise(lit("")),
      when(m(11) === 0L,
          concat(lit("/static/app."), m(50).cast("string"), lit(".js")))
        .otherwise(concat(lit("/Article/"), m(50).cast("string"),
          when(m(4) === 0L, lit("/")).otherwise(lit("")))),
      when(m(2) === 0L,
          concat(lit("?utm_source=feed&b="), m(10).cast("string"), lit("&a=1")))
        .otherwise(concat(lit("?a=1&utm_campaign=x&b="), m(10).cast("string"))),
      when(m(6) === 0L, lit("#sec")).otherwise(lit("")))
    val marked = Url.mark(docs.withColumn("url", url), "url",
      blockedDomains = Seq("tracker.net"))
    val base = marked.groupBy("source").agg(
      count(lit(1)).as("n_urls"),
      sum(when(col("url_keep"), 1L).otherwise(0L)).as("n_keep"),
      sum(length(col("canonical_url")).cast("long")).as("canon_chars"),
      max(col("canonical_url")).as("max_canon"))
    val canon = marked.select("source", "canonical_url").distinct()
      .groupBy("source").agg(count(lit(1)).as("n_canon"))
    val doms = marked.select("source", "url_domain").distinct()
      .groupBy("source").agg(count(lit(1)).as("n_domains"))
    base.join(canon, Seq("source")).join(doms, Seq("source"))
      .orderBy("source")
  }

  /** DEFLATE compression-ratio quality signal (`graft_deflate_ratio` —
    * the one-pass entropy proxy for degenerate text). Compressed byte
    * counts are zlib-implementation facts, not portable SQL, so the
    * oracle contract is planted-class SEPARATION with wide margins
    * (measured: repeated boilerplate ~61‰, 512 hex chars of md5 noise
    * ~556‰, ≥200-char corpus text ≤ 605‰): boilerplate < 300, noise in
    * (400, 950), noise strictly above boilerplate, long natural text
    * < 800. Every verdict is engine-evaluated on genuinely compressed
    * bytes; the oracle asserts the booleans. */
  val q130CompressionRatio: Q = (s, dir) => {
    import graft.functions.NativeFunctions.graft_deflate_ratio
    val docs = load(s, dir, "documents")
    val noise = array_join(transform(sequence(lit(0), lit(15)),
      i => md5(concat(lit("n"), col("doc_id").cast("string"), lit("-"),
        i.cast("string")))), "")
    docs.select(col("source"), length(col("text")).as("len"),
        graft_deflate_ratio(
          repeat(lit("the quick brown fox jumps over the lazy dog "), 20))
          .as("r_rep"),
        graft_deflate_ratio(noise).as("r_noise"),
        graft_deflate_ratio(col("text")).as("r_text"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("r_rep") < 300, 1L).otherwise(0L)).as("n_rep_low"),
        sum(when(col("r_noise") > 400 && col("r_noise") < 950, 1L)
          .otherwise(0L)).as("n_noise_mid"),
        sum(when(col("r_noise") > col("r_rep"), 1L).otherwise(0L)).as("n_order"),
        sum(when(col("len") < 200 || col("r_text") < 800, 1L).otherwise(0L))
          .as("n_long_text_low"))
      .orderBy("source")
  }

  /** Misra–Gries heavy hitters ([[graft.ops.CorpusStats.heavyHitters]]).
    * Two summaries run: k=64 ≥ the corpus vocabulary, where MG is
    * provably EXACT and merge-order independent — those counts are
    * hash-compared against the oracle's true GROUP BY counts — and k=8,
    * deep in the approximate regime, whose algorithmic guarantees
    * (never over-counts; every token with cnt·9 > N tracked with
    * undercount ≤ N/9) hold for ANY merge order and are emitted as
    * verdict booleans the oracle asserts TRUE. MisraGriesSpec pins the
    * same laws across adversarial repartitionings. */
  val q131HeavyHitters: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val exact = graft.ops.CorpusStats.heavyHitters(docs, "text", 64)
      .withColumnRenamed("est", "cnt")
    val approx = graft.ops.CorpusStats.heavyHitters(docs, "text", 8)
      .withColumnRenamed("est", "est8")
    val total = docs.select(
      sum(size(TextOps.tokens(col("text"))).cast("long")).as("n_total"))
    exact.join(approx, Seq("token"), "left")
      .crossJoin(total)
      .select(col("token"), col("cnt"),
        (col("cnt") * 9 > col("n_total")).as("is_heavy"),
        when(col("cnt") * 9 > col("n_total"),
          col("est8").isNotNull && col("est8") <= col("cnt") &&
            (col("cnt") - col("est8")) * 9 <= col("n_total"))
          .otherwise(col("est8").isNull || col("est8") <= col("cnt"))
          .as("k8_ok"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** CROSS-RUN heavy-hitters state ([[CorpusStats.heavyHittersByGroup]]
    * → zone hand-off → [[CorpusStats.heavyHittersRollup]]) —
    * the q86 incremental-dedup story applied to vocabulary tracking:
    * per-day MG summaries are computed once, saved as k-bounded state
    * rows, and a later run rolls them up WITHOUT re-tokenizing history.
    * Both q131 regimes run through the hand-off seam: the k=64
    * roll-up is provably EXACT (per-day vocab ≤ k, merged vocab ≤ k —
    * no counter subtraction ever fires) and hash-compared against a
    * from-scratch GROUP BY; the k=8 roll-up's composed mergeable-
    * summary bound (never over-counts; undercount ≤ N_total/9) is
    * emitted as verdict booleans the oracle asserts TRUE. MisraGriesSpec
    * pins the same roll-up equal to the single-pass summary and to the
    * streaming twin's accumulated windows. */
  val q136HhRollup: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val byDay = docs.withColumn("day", pmod(col("doc_id"), lit(4L)))
    val daily = graft.ops.CorpusStats
      .heavyHittersByGroup(byDay, "text", "day", 64)
      .join(graft.ops.CorpusStats
        .heavyHittersByGroup(byDay, "text", "day", 8)
        .withColumnRenamed("summary", "summary8"), Seq("day"))
    val state = graft.etl.Zones.materialize(daily,
      TempState.dir("graft_q136_hh_state").toString)
    val exact = graft.ops.CorpusStats.heavyHittersRollup(state, "summary", 64)
      .withColumnRenamed("est", "cnt")
    val approx = graft.ops.CorpusStats.heavyHittersRollup(state, "summary8", 8)
      .withColumnRenamed("est", "est8")
    val total = docs.select(
      sum(size(TextOps.tokens(col("text"))).cast("long")).as("n_total"))
    exact.join(approx, Seq("token"), "left")
      .crossJoin(total)
      .select(col("token"), col("cnt"),
        (col("cnt") * 9 > col("n_total")).as("is_heavy"),
        when(col("cnt") * 9 > col("n_total"),
          col("est8").isNotNull && col("est8") <= col("cnt") &&
            (col("cnt") - col("est8")) * 9 <= col("n_total"))
          .otherwise(col("est8").isNull || col("est8") <= col("cnt"))
          .as("k8_ok"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Skew-proof per-group cap ([[Curation.capPerGroupBounded]] — BottomK
    * partial aggregation + uniformly-keyed semi join instead of the q67
    * window sort): result-identical to the window cap when ids are unique
    * per group, so the oracle is the SAME row_number replay as q67. The
    * point of a separate oracle row is the plan, not the answer — the
    * bounded variant's group-keyed shuffle carries ≤ k·groups rows no
    * matter how skewed the groups (BENCH_NOTES Round 13, "Per-domain cap
    * skew drill"). */
  val q137DomainCapBounded: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val capped = Curation.capPerGroupBounded(docs, "source", "doc_id", 25)
    val total = docs.groupBy("source").agg(count(lit(1)).as("n_total"))
    val kept = capped.groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept_ids"))
    total.join(kept, Seq("source")).orderBy("source")
  }

  /** Cross-run URL-level dedup — the RECRAWL story ([[Incremental
    * .urlState]] → zone hand-off → [[Incremental
    * .dropSeenUrls]]): day-1's crawl seeds the canonical-URL fingerprint
    * state; day-2 drops already-crawled pages at the URL stage, before
    * any HTML would be parsed. Planted evidence: day-2 URLs differ from
    * day-1's in case/tracker/trailing-slash ONLY (so the drop must key
    * on the CANONICAL form — a raw-string key would wave them all
    * through), except a deterministic slice of genuinely new pages that
    * must survive. The oracle replays canonicalization by construction
    * arithmetic and first-seen-wins as min(day·10^9 + id) per canonical
    * URL — the q86 invariant, URL-keyed. */
  val q138IncrementalWeb: Q = (s, dir) => {
    import graft.ops.Incremental
    val docs = load(s, dir, "documents").select("doc_id")
    val d = col("doc_id")
    def m(k: Long) = pmod(d, lit(k))
    val k = m(351).cast("string") // odd modulus: both parities share keys
    val url = when(m(2) === 1L && m(7) === 3L,
        concat(lit("https://site-new"), d.cast("string"), lit(".com/doc")))
      .when(m(2) === 0L,
        concat(lit("https://www.site"), k, lit(".com/doc/"), k,
          lit("?utm_source=feed")))
      .otherwise( // same canonical page, different surface form
        concat(lit("https://Site"), k, lit(".COM/doc/"), k,
          lit("/?fbclid=x")))
    val pages = docs.withColumn("url", url)
    val day1 = pages.filter(m(2) === 0L)
    twoRuns("graft_url_state", "doc_id", day1, pages.filter(m(2) === 1L),
      s.range(0).select(col("id").as("url_fp")), Incremental.urlState(day1, "url"),
      Incremental.dropSeenUrls(_, _, "url", _),
      _.withColumn("canonical_url",
        graft.ops.Url.canonicalCompiled(
          when(pmod(col("doc_id"), lit(2L)) === 1L &&
              pmod(col("doc_id"), lit(7L)) === 3L,
            concat(lit("https://site-new"), col("doc_id").cast("string"),
              lit(".com/doc")))
          .otherwise(concat(lit("https://www.site"),
            pmod(col("doc_id"), lit(351L)).cast("string"), lit(".com/doc/"),
            pmod(col("doc_id"), lit(351L)).cast("string"))))))
  }

  /** REAL multi-frame decode for frame sampling ([[Multimodal
    * .frameSampleReal]] over [[Multimodal.synthFrameMedia]]): even ids
    * carry genuine animated GIFs — the JDK's sequence-aware reader
    * decodes EVERY frame (ImageIO.read alone sees only frame 0), and
    * each sampled frame's true dimensions and exact gray-pixel sum are
    * emitted; odd ids carry payloads no reader claims and fall back
    * per-payload to the q59 byte-stride arithmetic. Every value is
    * integer arithmetic on the id (the synthGif construction), so the
    * oracle replays frames and pixel sums with nested UNNEST(range(…))
    * — a stub CANNOT fake the GIF rows: LZW decompression destroys the
    * byte↔sample correspondence. */
  val q139GifFrames: Q = (s, dir) => {
    val media = Multimodal.synthFrameMedia(load(s, dir, "documents"), "doc_id")
    Multimodal.frameSampleReal(media, frameBytes = 4, stride = 2)
      .orderBy("media_id", "frame_idx")
  }

  /** Perceptual image dedup hash ([[Multimodal.withImageDHash]] — 63-bit
    * dHash over REAL decoded pixels, nearest-neighbor 10×7 sample grid):
    * every id renders TWO genuinely different PNG payloads (the twin is
    * uniformly brightness-shifted +20 per channel) whose decoded dHash
    * must be IDENTICAL — the monotone-shift invariance that makes a
    * perceptual hash a dedup key where byte hashes fail. The oracle
    * replays the full hash from the pixel construction arithmetic
    * (nested UNNEST over the sample grid, bit = adjacent-gray compare,
    * packed with << ): a stub cannot fake it — DEFLATE inside the PNG
    * destroys the byte↔pixel correspondence, and the twin payloads
    * differ in every pixel. `n_same_hash` (rows sharing the exact hash)
    * pins the grouping the dedup key induces, id-aliasing collisions
    * included. The banded hamming JOIN over these hashes
    * ([[Dedup.hammingNearDupPairs]], pigeonhole zero-recall-loss) is
    * spec-pinned in OpsSpec. */
  val q140ImagePhash: Q = (s, dir) => {
    val docs = load(s, dir, "documents").select("doc_id")
    val orig = Multimodal.synthImagesShifted(docs, "doc_id", delta = 0)
    val twin = Multimodal.synthImagesShifted(docs, "doc_id", delta = 20,
      idOffset = 100000000L)
    // persisted: the per-base aggregate and the hash-frequency table both
    // consume it — the decode must run once per payload, not twice
    val hashes = graft.ops.OpCaches.persist(
      Multimodal.withImageDHash(orig.unionByName(twin))
        .select("media_id", "dhash")) // payload dropped at the map boundary
    val perBase = hashes
      .select(pmod(col("media_id"), lit(100000000L)).as("doc_id"),
        (col("media_id") < 100000000L).as("is_orig"), col("dhash"))
      .groupBy("doc_id")
      .agg(max(when(col("is_orig"), col("dhash"))).as("dhash"),
        (count(lit(1)) === 2L && min(col("dhash")) === max(col("dhash")) &&
          count(col("dhash")) === 2L).as("twin_match"))
    val counts = hashes.groupBy("dhash").agg(count(lit(1)).as("n_same_hash"))
    perBase.join(counts, Seq("dhash"))
      .select(col("doc_id"), col("dhash"), col("twin_match"),
        col("n_same_hash"))
      .orderBy("doc_id")
  }

  /** Perceptual AUDIO dedup fingerprint ([[Multimodal.withAudioPHash]] —
    * 15-bit adjacent-segment energy-delta hash over REAL decoded PCM,
    * the q140 dHash story on the time axis): every id renders TWO
    * byte-for-byte different WAVs (the twin is polarity-inverted — an
    * inaudible edit) whose decoded fingerprint must be IDENTICAL. The
    * oracle replays the full hash from the synthWav sample formula
    * (segment binning, |mono| energies, adjacent compares, bit
    * packing); a stub cannot fake it — the values require parsing the
    * RIFF header, frame interleave, and 16-bit little-endian samples. */
  val q141AudioPhash: Q = (s, dir) => {
    val docs = load(s, dir, "documents").select("doc_id")
    val orig = Multimodal.synthAudioSigned(docs, "doc_id", sign = 1)
    val inv = Multimodal.synthAudioSigned(docs, "doc_id", sign = -1,
      idOffset = 100000000L)
    Multimodal.withAudioPHash(orig.unionByName(inv))
      .select("media_id", "ahash") // payload dropped at the map boundary
      .select(pmod(col("media_id"), lit(100000000L)).as("doc_id"),
        (col("media_id") < 100000000L).as("is_orig"), col("ahash"))
      .groupBy("doc_id")
      .agg(max(when(col("is_orig"), col("ahash"))).as("ahash"),
        (count(lit(1)) === 2L && count(col("ahash")) === 2L &&
          min(col("ahash")) === max(col("ahash"))).as("twin_match"))
      .orderBy("doc_id")
  }

  /** Cross-run PERCEPTUAL image dedup ([[Incremental.imageHashState]] →
    * zone hand-off → [[Incremental.dropSeenImages]]) — q138's
    * recrawl story keyed on decoded PIXELS: day-2 carries brightness
    * RE-ENCODES of day-1 images (different payload bytes — a byte/URL
    * key waves every one of them through) that must drop against the
    * persisted dHash state, plus a deterministic slice of genuinely new
    * images that must survive. The oracle replays each render's 63-bit
    * dHash from the pixel construction (the q140 arithmetic over the
    * render's BASE id) and first-seen-wins as min(day·10^9 + id) per
    * hash — the q86 invariant, perceptual-keyed. */
  val q142IncrementalImages: Q = (s, dir) => {
    import graft.ops.Incremental
    // day-2 re-encodes: odd id j renders BASE j-1 at delta 20 (same
    // dHash as day-1's render of j-1 when that base was rendered)
    val (day1, day2) = mediaDays(load(s, dir, "documents").select("doc_id"),
      Multimodal.synthImagesShifted(_, "doc_id", delta = 0),
      Multimodal.synthImagesShifted(_, "base", delta = 20, idOffset = 1L))
    twoRuns("graft_img_state", "media_id", day1, day2,
      s.range(0).select(col("id").as("dhash")), Incremental.imageHashState(day1),
      Incremental.dropSeenImages)
  }

  /** ftfy-style mojibake repair ([[TextOps.fixMojibake]] — cp1252
    * re-encode + strict UTF-8 re-decode, native codegen): planted rows
    * carry the text plus a MOJIBAKE suffix (the clean suffix's UTF-8
    * bytes mis-decoded through windows-1252, constructed
    * programmatically so no mangled literal lives in source); the fix
    * must recover exactly the clean form while every untouched ASCII
    * row passes through byte-identical. The oracle replays lengths and
    * tails by construction — the +13-char planted delta only comes out
    * right if the engine's repair really contracted 'Ã©'→'é',
    * 'â€”'→'—', 'Ã¯'→'ï'. */
  val q143Mojibake: Q = (s, dir) => {
    val clean = " café — naïve" // " café — naïve", 13 chars
    val moji = new String(
      clean.getBytes(java.nio.charset.StandardCharsets.UTF_8), "windows-1252")
    val docs = load(s, dir, "documents").select("doc_id", "text")
    val planted = when(pmod(col("doc_id"), lit(3L)) === 0L,
      concat(col("text"), lit(moji))).otherwise(col("text"))
    val fixed = TextOps.fixMojibake(planted)
    docs.select(col("doc_id"),
        (fixed =!= planted).as("changed"),
        length(fixed).cast("long").as("n_chars"),
        substring(fixed, greatest(length(fixed) - 15, lit(1)), lit(16))
          .as("tail"))
      .orderBy("doc_id")
  }

  /** Cross-run WITHIN-DISTANCE perceptual image dedup
    * ([[Incremental.imageBandState]] → zone hand-off →
    * [[Incremental.dropSeenImagesWithinDist]]) — q142's recall gap
    * closed (r13 verdict #1): day-2 carries DRIFTED re-encodes of day-1
    * images (brightness-shifted AND corner-bumped —
    * [[Multimodal.synthPngShiftedBumped]], 0–3 flipped dHash bits, so
    * the EXACT-hash state would wave the ≥1-bit drifts through) that
    * must drop against the banded state's Hamming-≤3 horizon, plus a
    * slice of genuinely new images. The oracle replays every render's
    * 63-bit dHash from the pixel construction (the q140 arithmetic over
    * the render's BASE id, bump term included) and the drop rule
    * directly as `bit_count(xor(h2, h1)) <= 3` over the distinct hash
    * sets — the pigeonhole banding is recall-lossless by construction,
    * so the engine's banded plan must equal the oracle's exhaustive
    * rule exactly. */
  val q144IncrementalImagesNear: Q = (s, dir) => {
    import graft.ops.Incremental
    // day-2 drifted re-encodes: odd id j renders BASE j-1 brightness
    // +20 AND corner-bumped +30 — within Hamming 3 of day-1's render
    val (day1, day2) = mediaDays(load(s, dir, "documents").select("doc_id"),
      Multimodal.synthImagesShifted(_, "doc_id", delta = 0),
      Multimodal.synthImagesShiftedBumped(_, "base", delta = 20, bump = 30,
        idOffset = 1L))
    twoRuns("graft_imgband_state", "media_id", day1, day2,
      s.range(0).select(col("id").cast("int").as("band"), col("id").as("bv"),
        col("id").as("dhash")),
      Incremental.imageBandState(day1),
      Incremental.dropSeenImagesWithinDist(_, _, _))
  }

  /** Cross-run perceptual AUDIO dedup ([[Incremental.audioHashState]] →
    * zone hand-off → [[Incremental.dropSeenAudio]]) — q142's
    * recrawl story on the time axis (r13 verdict #3): day-2 carries
    * POLARITY-INVERTED re-encodes of day-1 clips (every sample negated —
    * byte-for-byte different payloads a byte key waves through, an
    * inaudible edit the 15-bit energy fingerprint is invariant to) that
    * must drop against the persisted state, plus a slice of new clips.
    * The oracle replays each render's fingerprint from the synthWav
    * sample arithmetic over the render's BASE id (the q141 SQL — |mono|
    * makes the sign cancel) and first-seen-wins as min(day·10^9 + id)
    * per fingerprint — the q86 invariant, audio-keyed. */
  val q145IncrementalAudio: Q = (s, dir) => {
    import graft.ops.Incremental
    val (day1, day2) = mediaDays(load(s, dir, "documents").select("doc_id"),
      Multimodal.synthAudioSigned(_, "doc_id", sign = 1),
      Multimodal.synthAudioSigned(_, "base", sign = -1, idOffset = 1L))
    twoRuns("graft_audio_state", "media_id", day1, day2,
      s.range(0).select(col("id").as("ahash")), Incremental.audioHashState(day1),
      Incremental.dropSeenAudio)
  }

  /** Video-sequence perceptual fingerprint ([[Multimodal.withVideoSeqHash]]
    * — per-frame 63-bit dHash over REAL decoded GIF frames, anchored at
    * (first, middle, last) plus the frame count; r13 verdict #5): every
    * id renders TWO byte-for-byte different animations (the twin is
    * uniformly brightness-shifted +15 per frame) whose sequence
    * fingerprints must be IDENTICAL — the per-frame monotone invariance,
    * extended along the time axis, that catches re-encoded animation
    * dupes where single-image dHash (frame 0 only) and byte keys both
    * miss. The oracle replays all three anchor hashes from the
    * synthGifShifted gray arithmetic (nested UNNEST over the sample grid
    * at frames 0, ⌊nf/2⌋, nf−1) — a stub cannot fake them: LZW
    * decompression destroys the byte↔sample correspondence and the twin
    * differs in every pixel. The banded sequence near-dup join
    * ([[Multimodal.videoSeqNearDups]]) is spec-pinned in OpsSpec. */
  val q146VideoSeq: Q = (s, dir) => {
    val docs = load(s, dir, "documents").select("doc_id")
    val orig = Multimodal.synthGifsShifted(docs, "doc_id", delta = 0)
    val twin = Multimodal.synthGifsShifted(docs, "doc_id", delta = 15,
      idOffset = 100000000L)
    val hashes = Multimodal.withVideoSeqHash(orig.unionByName(twin))
      .select("media_id", "n_frames", "h_first", "h_mid", "h_last")
    hashes
      .select(pmod(col("media_id"), lit(100000000L)).as("doc_id"),
        (col("media_id") < 100000000L).as("is_orig"),
        col("n_frames"), col("h_first"), col("h_mid"), col("h_last"))
      .groupBy("doc_id")
      .agg(
        max(when(col("is_orig"), col("n_frames"))).as("n_frames"),
        max(when(col("is_orig"), col("h_first"))).as("h_first"),
        max(when(col("is_orig"), col("h_mid"))).as("h_mid"),
        max(when(col("is_orig"), col("h_last"))).as("h_last"),
        (count(lit(1)) === 2L &&
          count(col("h_first")) === 2L &&
          min(col("n_frames")) === max(col("n_frames")) &&
          min(col("h_first")) === max(col("h_first")) &&
          min(col("h_mid")) === max(col("h_mid")) &&
          min(col("h_last")) === max(col("h_last"))).as("twin_match"))
      .orderBy("doc_id")
  }

  /** Cross-run VIDEO-sequence dedup ([[Incremental.videoSeqState]] →
    * zone hand-off → [[Incremental.dropSeenVideoSeqs]]) —
    * the q144 recrawl story for ANIMATIONS: day-2 carries re-encodes of
    * day-1 animations that are brightness-shifted AND first-frame
    * corner-drifted ([[Multimodal.synthGifShiftedBumped]] — 0–3 flipped
    * bits on the first-frame anchor only, so an exact fingerprint key
    * would wave the ≥1-bit drifts through) that must drop against the
    * persisted state's per-anchor Hamming-≤3 / equal-frame-count rule,
    * plus a slice of genuinely new animations. The oracle replays all
    * three anchor hashes per render from the gray construction (bump
    * term on frame 0) and the drop rule exhaustively over the distinct
    * day-1 fingerprints — banding is recall-lossless, so banded ==
    * exhaustive. */
  val q147IncrementalVideo: Q = (s, dir) => {
    import graft.ops.Incremental
    val (day1, day2) = mediaDays(load(s, dir, "documents").select("doc_id"),
      Multimodal.synthGifsShifted(_, "doc_id", delta = 0),
      Multimodal.synthGifsShiftedBumped(_, "base", delta = 20, bump = 30,
        idOffset = 1L))
    twoRuns("graft_vid_state", "media_id", day1, day2,
      s.range(0).select(col("id").cast("int").as("n_frames"),
        col("id").as("h_first"), col("id").as("h_mid"), col("id").as("h_last")),
      Incremental.videoSeqState(day1),
      Incremental.dropSeenVideoSeqs(_, _, _))
  }

  /** Cross-run WITHIN-DISTANCE audio dedup ([[Incremental.audioBandState]]
    * → zone hand-off → [[Incremental.dropSeenAudioWithinDist]])
    * — q144's drift story for SOUND, on the WIDE 31-bit fingerprint
    * ([[Multimodal.audioPHash31]], 32 energy segments — the 15-bit key
    * is too coarse to near-match): day-2 carries DRIFTED re-encodes of
    * day-1 clips ([[Multimodal.synthWavBumped]] — frame-0 level bump,
    * moves only adjacent-compare bit 0, so 0–1 flipped bits: inside the
    * Hamming-≤2 horizon, outside the exact key whenever the bit flips)
    * plus genuinely new clips. The oracle replays each render's 31-bit
    * hash over a full 32-segment spine (short clips leave segments
    * empty — energy 0, replayed with a LEFT JOIN + COALESCE) and the
    * drop rule exhaustively; banding is recall-lossless, so banded ==
    * exhaustive. */
  val q148IncrementalAudioNear: Q = (s, dir) => {
    import graft.ops.Incremental
    val (day1, day2) = mediaDays(load(s, dir, "documents").select("doc_id"),
      Multimodal.synthAudio(_, "doc_id"),
      Multimodal.synthAudioBumped(_, "base", bump = 40, idOffset = 1L))
    twoRuns("graft_audioband_state", "media_id", day1, day2,
      s.range(0).select(col("id").cast("int").as("band"), col("id").as("bv"),
        col("id").as("ahash31")),
      Incremental.audioBandState(day1),
      Incremental.dropSeenAudioWithinDist(_, _, _))
  }

  /** The COMPOSED media-curation recipe ([[graft.ops.Curation.curateMedia]]
    * — size gate → byte-exact dedup → ONE decode pass → per-modality
    * perceptual dedup), run end-to-end over a constructed MIXED table:
    * images with brightness twins (different bytes, equal dHash — must
    * collapse perceptually), audio with polarity twins (different
    * bytes, equal 31-bit fingerprint — ditto), and junk payloads with
    * BYTE-IDENTICAL twins (must collapse at the byte stage and pass the
    * decoders untouched) plus a sub-threshold slice the size gate
    * drops. The oracle replays the ENTIRE chain: the image dHash by the
    * q140 pixel arithmetic, the audio fingerprint by the q148
    * 32-segment spine, junk classes by the construction mods, each
    * stage's first-seen-wins as MIN(id) per key. */
  val q149MediaCuration: Q = (s, dir) => {
    val docs = load(s, dir, "documents").select("doc_id")
    val d = col("doc_id")
    val off = 100000000L
    val imgIds = docs.filter(pmod(d, lit(3L)) === 0L)
    val audIds = docs.filter(pmod(d, lit(3L)) === 1L)
    val junkIds = docs.filter(pmod(d, lit(3L)) === 2L)
    val img = Multimodal.synthImagesShifted(imgIds, "doc_id", delta = 0)
    val imgTwin = Multimodal.synthImagesShifted(imgIds, "doc_id",
      delta = 20, idOffset = off)
    val aud = Multimodal.synthAudioSigned(audIds, "doc_id", sign = 1)
    val audTwin = Multimodal.synthAudioSigned(audIds, "doc_id", sign = -1,
      idOffset = off)
    // ids ≡ 2 (mod 3) land in synthMixed's non-decodable arm; the twin
    // re-lands the SAME payload under an offset id — the byte-exact class
    val junk = Multimodal.synthMixed(junkIds, "doc_id")
    val junkTwin = junk.withColumn("media_id", col("media_id") + off)
    val media = img.unionByName(imgTwin).unionByName(aud)
      .unionByName(audTwin).unionByName(junk).unionByName(junkTwin)
    graft.ops.Curation.curateMedia(media, "media_id", minBytes = 5)
      .select(col("media_id").as("doc_id"), col("media_kind"))
      .orderBy("doc_id")
  }

  /** Per-language normalized dedup ([[Dedup.exactDedupNormalizedPerGroup]]
    * — the multilingual composition the dedup scope contract prescribes:
    * language-split upstream, dedup WITHIN language). Planted evidence
    * both ways: cross-language clones (same text, lang `zz`) must ALL
    * survive — the per-group window never merges across languages — while
    * within-language case/punct mutants still collapse onto their
    * originals. The oracle replays the (lang, normalized-key) grouping
    * end-to-end. */
  val q132PerLangDedup: Q = (s, dir) => {
    val docs = load(s, dir, "documents").select("doc_id", "lang", "text")
    val xlang = docs.filter(pmod(col("doc_id"), lit(9L)) === 3L)
      .select((col("doc_id") + 300000000L).as("doc_id"),
        lit("zz").as("lang"), col("text"))
    val mutant = docs.filter(pmod(col("doc_id"), lit(7L)) === 2L)
      .select((col("doc_id") + 400000000L).as("doc_id"), col("lang"),
        concat(upper(col("text")), lit(" ??")).as("text"))
    val all = docs.unionByName(xlang).unionByName(mutant)
    Dedup.exactDedupNormalizedPerGroup(all, "text", "doc_id", "lang")
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
        max(col("n_copies")).as("max_copies"))
      .orderBy("lang")
  }

  /** The COMPLETE web-curation recipe ([[Curation.curateWeb]] — URL
    * mark/filter → HTML extraction → lang/quality gates → PII scrub →
    * fingerprint dedup → per-domain cap), run end-to-end as ONE composed
    * operator over constructed pages. Construction composes the proven
    * per-stage fixtures: the q128 page skeleton (nav/p1/p2/tags/footer),
    * q129-style messy URLs (asset paths, a blocklisted domain, 59
    * registrable domains), q122's planted PII (in paragraph 2), and
    * q123-style punctuation mutants under the `d2 = id mod 1e8`
    * convention so a mutant builds the SAME paragraph 2 as its original
    * and the pair collapses at the dedup stage. The oracle replays the
    * ENTIRE chain in SQL (domains/keep by construction arithmetic, HTML
    * recovery by the q128 arithmetic, lang/quality by the q60
    * arithmetic, the PII chain by the q122 arithmetic, dedup by the
    * q123/q126 normalized-key grouping — the engine runs the 8-byte
    * fingerprint variant — and the cap as a row_number window). Any
    * stage deviating changes the survivor set and the hash mismatches:
    * this is the composition contract the per-stage queries can't see
    * (the r10 precedent: the 5M recipe drill caught curate's
    * double-scan). */
  val q133WebCuration: Q = (s, dir) => {
    val base = load(s, dir, "documents").select("doc_id", "source", "text")
    val mutant = base.filter(pmod(col("doc_id"), lit(10L)) === 1L)
      .select((col("doc_id") + 100000000L).as("doc_id"), col("source"),
        concat(col("text"), lit(" !! !!")).as("text"))
    // spread the fixture BEFORE the page build: the single-row-group
    // testdata scans give this union 2 partitions, and everything fused
    // over it — page synthesis plus curateWeb's url/html/lang/quality/
    // pii regex chain, the recipe's whole CPU — ran 2-way on 32 cores
    // (r14 stage profile: 2 tasks, 2.65 CPU-s, 1.66s stage wall). One
    // tiny exchange of the raw docs buys 32-way parallelism for the
    // fused map; a real crawl arrives already partitioned and skips this
    // (guide §2.5, unsplittable-input remedy).
    // CACHED spread (r15): Catalyst pushed curateWeb's url_keep
    // predicate — with the whole synthesized-URL tree substituted in —
    // back below this exchange onto the 2-partition scan side, paying
    // the ~50 KB predicate serially AND re-paying the URL build above.
    // The cache barrier pins consumers to the 32-way layout
    // (same-window A/B 4.45 → 2.28 s; released by releaseAll).
    val docs = graft.ops.Spread.toCoresCached(base.unionByName(mutant))
    val d2 = pmod(col("doc_id"), lit(100000000L))
    def m(k: Long) = pmod(d2, lit(k))
    val p2 = concat(
      lit("Article body continues with further detail for doc "),
      d2.cast("string"), lit("."),
      when(m(7) === 0L, concat(lit(" contact user"), d2.cast("string"),
        lit("@example.com"))).otherwise(lit("")),
      when(m(11) === 3L, concat(lit(" call 555-"),
        lpad(m(1000).cast("string"), 3, "0"), lit("-"),
        lpad(m(10000).cast("string"), 4, "0"))).otherwise(lit("")))
    val html = concat(
      lit("<html><body><nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
        "<a href=\"/contact\">Contact</a></nav><p>"),
      col("text"),
      lit("</p><p>"), p2, lit("</p>" +
        "<ul><li><a href=\"/t1\">tag one</a></li>" +
        "<li><a href=\"/t2\">tag two</a></li></ul>" +
        "<footer>(c) 2026 <a href=\"/tos\">Terms</a> " +
        "<a href=\"/privacy\">Privacy</a></footer></body></html>"))
    val host = when(m(13) === 0L, lit("Spam.Tracker.NET"))
      .when(m(3) === 0L,
        concat(lit("WWW.Shop"), m(23).cast("string"), lit(".COM")))
      .when(m(3) === 1L,
        concat(lit("news.site"), m(19).cast("string"), lit(".co.uk")))
      .otherwise(concat(lit("cdn.media"), m(17).cast("string"), lit(".org")))
    val url = concat(lit("https://"), host,
      when(m(29) === 5L,
          concat(lit("/static/app."), m(50).cast("string"), lit(".js")))
        .otherwise(concat(lit("/Article/"), m(50).cast("string"))),
      lit("?utm_source=feed"),
      when(m(2) === 0L, concat(lit("&p="), m(9).cast("string")))
        .otherwise(lit("")))
    val pages = docs.select(col("doc_id"), col("source"),
      url.as("url"), html.as("html"))
    // persist: TWO consumers (the per-source aggregate and the two-phase
    // distinct-domain count) would otherwise each re-run the regex-heavy
    // chain and both of its shuffles — the r10 curate double-scan lesson
    val out = graft.ops.OpCaches.persist(
      graft.ops.Curation.curateWeb(pages, "doc_id", "url", "html",
        allowedLangs = Seq("en", "de", "fr", "es"), minQuality = 40,
        blockedDomains = Seq("tracker.net"), maxPerDomain = 40))
    // ONE aggregation (r14): the distinct-domain count rides the same
    // groupBy as countDistinct instead of a second consumer branch +
    // join (3 exchanges fewer, one consumer of the persisted recipe).
    // INVARIANT (r14 ADVICE): count_distinct drops NULL domains where
    // the old two-branch distinct counted them as one row; equivalent
    // here ONLY because blockedDomains is non-empty, so Url.mark's
    // `keepBase && !dom.isInCollection(blocked)` null-propagates a
    // null-domain row's url_keep and curateWeb filters it out before
    // this aggregate — dropping the blocklist requires revisiting this.
    // The count_distinct Expand doubles rows ONLY over the persisted
    // post-cap survivors — bounded by maxPerDomain×domains, never
    // corpus-sized — which is why the two-branch shape isn't needed
    // here (contrast the q61/q63 never-Expand pins, where the Expand
    // would ride the full corpus shuffle).
    out.groupBy("source").agg(
      count(lit(1)).as("n_final"),
      sum(col("n_copies")).as("n_repr"),
      sum(col("n_email")).as("emails"),
      sum(col("n_phone")).as("phones"),
      sum(length(col("content_scrubbed")).cast("long")).as("scrub_chars"),
      max(col("n_copies")).as("max_copies"),
      count_distinct(col("url_domain")).as("n_domains"))
      .orderBy("source")
  }

  /** Fixture public-suffix list for q134 — a slice of the real PSL
    * covering the rule classes the heuristic cannot express: 2-label
    * ccTLD registries (`go.jp`, `com.au`), a private-registry rule
    * (`github.io`), and a 3-label rule (`k12.ma.us`), plus the plain
    * TLDs — and the PSL test file's wildcard/exception families
    * (`*.ck`, `*.kobe.jp`, `!city.kobe.jp`). Mirrored verbatim in the
    * q134 oracle SQL (plain rules as IN lists, wildcard bases as ORed
    * equality tiers, the exception as the top CASE arm). */
  val PslFixture: Seq[String] = Seq("com", "org", "net", "io", "uk", "jp",
    "us", "au", "co.uk", "com.au", "go.jp", "co.jp", "github.io",
    "k12.ma.us", "*.ck", "*.kobe.jp", "!city.kobe.jp")

  /** PSL-backed registered-domain extraction ([[Url.markWithPsl]] /
    * [[Url.registeredDomainWithSuffixes]] — longest-match over a real
    * public-suffix table, compiled into the plan as `InSet` probes,
    * zero shuffle on the crawl side). Hosts are CONSTRUCTED per document
    * to cover every rule class: `*.go.jp` agencies, `*.github.io` user
    * sites, 3-label `*.k12.ma.us` schools, `*.com.au` shops (where the
    * heuristic already groups correctly) and plain `.org` sites (one of
    * which is blocklisted THROUGH its PSL domain). The oracle replays
    * the longest-match CASE chain generically over the same fixture
    * list, plus the heuristic, so `n_diverge` pins exactly where the
    * table corrects the heuristic. Canonicalization is exercised with
    * an UPPERCASE tracker (`UTM_Source=` — the case-insensitive key
    * match) and replayed by construction arithmetic; q129 keeps the
    * generic canonicalization replay. */
  val q134UrlPsl: Q = (s, dir) => {
    import s.implicits._
    val docs = load(s, dir, "documents").select("doc_id", "source")
    val d = col("doc_id")
    def m(k: Long) = pmod(d, lit(k))
    val host = when(m(5) === 0L,
        concat(lit("www.Agency"), m(7).cast("string"), lit(".GO.JP")))
      .when(m(5) === 1L,
        concat(lit("User"), m(11).cast("string"), lit(".GitHub.IO")))
      .when(m(5) === 2L,
        concat(lit("school"), m(13).cast("string"), lit(".k12.MA.US")))
      .when(m(5) === 3L,
        concat(lit("shop.example"), m(3).cast("string"), lit(".com.au")))
      .otherwise(
        when(m(3) === 0L,
          concat(lit("x.site"), m(17).cast("string"), lit(".org")))
        .when(m(3) === 1L,
          concat(lit("b.test"), m(7).cast("string"), lit(".CK")))
        .when(m(2) === 0L, lit("visit.City.kobe.JP"))
        .otherwise(concat(lit("ward.c"), m(4).cast("string"), lit(".kobe.JP"))))
    val url = concat(lit("https://"), host,
      lit("/Doc/"), m(50).cast("string"),
      when(m(4) === 0L, lit("/")).otherwise(lit("")),
      lit("?UTM_Source=feed"),
      when(m(2) === 0L, concat(lit("&p="), m(9).cast("string")))
        .otherwise(lit("")))
    val marked = Url.markWithPsl(docs.withColumn("url", url), "url",
        PslFixture.toDF("suffix"), blockedDomains = Seq("site3.org"))
      .withColumn("heur_domain", Url.registeredDomain(col("url")))
    val base = marked.groupBy("source").agg(
      count(lit(1)).as("n_urls"),
      sum(when(col("url_keep"), 1L).otherwise(0L)).as("n_keep"),
      sum(length(col("canonical_url")).cast("long")).as("canon_chars"),
      sum(when(col("url_domain") =!= col("heur_domain"), 1L).otherwise(0L))
        .as("n_diverge"),
      sum(length(col("url_domain")).cast("long")).as("dom_chars"),
      max(col("url_domain")).as("max_dom"))
    val doms = marked.select("source", "url_domain").distinct()
      .groupBy("source").agg(count(lit(1)).as("n_domains"))
    base.join(doms, Seq("source")).orderBy("source")
  }

  /** Rolling-hash document fingerprints (Rabin-Karp mod 2^31-1) via the
    * native codegen'd expression. The recurrence is plain modular
    * arithmetic, so DuckDB replays it with list_reduce over the character
    * codes — a true value oracle for the native Expression. (The native
    * path hashes UTF-8 BYTES, the oracle character codes; the corpus is
    * verified ASCII-only, where the two coincide.) */
  val q46Fingerprint: Q = (s, dir) => {
    load(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.NativeFunctions.graft_fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** IVF approximate NN with a planted identical twin of the query vector
    * (id 1,000,000): the twin necessarily lands in the query's own nearest
    * cell, so the probe MUST return it at cosine ~1.0. Reported as an
    * ENGINE-INDEPENDENT verdict row (the q47/q52 pattern): corpus size
    * plus three booleans — full k returned, twin retrieved, twin cosine
    * ≥ 1−1e−6 (not exact-1.0: sqrt(d)·sqrt(d) vs d differs in the last
    * ulp). The oracle asserts COUNT(*)+1 and TRUE×3, so any probe
    * regression hash-mismatches. The k-means cell assignment itself is
    * not SQL-expressible; the model is trained once per corpus and reused
    * ([[graft.ops.Ivf.trainCached]]), not retrained per query. */
  val q48AnnIvf: Q = (s, dir) => {
    val emb = load(s, dir, "embeddings")
    val twin = emb.filter(col("vec_id") === 0).withColumn("vec_id", lit(1000000L))
    val data = emb.unionByName(twin)
    val model = graft.ops.Ivf.trainCached(s"$dir/embeddings", emb, "embedding", k = 8)
    val indexed = graft.ops.Ivf.index(model, data, "embedding")
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val tk = graft.ops.Ivf.topK(model, indexed, "vec_id", "embedding", query, k = 10, nProbe = 2)
    val verdict = tk.agg(
      count(lit(1)).as("n_results"),
      max(when(col("vec_id") === 1000000L, 1L).otherwise(0L)).as("found"),
      max(when(col("vec_id") === 1000000L, col("cosine_sim"))).as("twin_cos"))
    emb.agg((count(lit(1)) + 1L).as("n_vectors")).crossJoin(verdict)
      .select(col("n_vectors"),
        (col("n_results") === 10L).as("k_ok"),
        (col("found") === 1L).as("planted_found"),
        (col("twin_cos") >= 1.0 - 1e-6).as("twin_cos_ok"))
  }

  /** Approximate distinct (HyperLogLog++) next to the exact counts, with
    * in-query tolerance verdicts: the exact counts + the booleans are
    * engine-independent (the oracle asserts TRUE), so the sketch's accuracy
    * contract — not its engine-specific estimate — is what gets checked.
    * Tolerance 15%+10 ≈ 3σ of the default 5% rsd.
    *
    * Shape note: mixing several COUNT(DISTINCT) in one aggregate makes
    * Catalyst Expand the input once per distinct column — N× the shuffle
    * volume of the fact table at scale. Each exact distinct here is its own
    * two-phase aggregation (partial distinct map-side, shuffle ∝ distinct
    * pairs) and the HLL sketches ride a third, plain aggregation; the three
    * small per-group results then join.
    *
    * Measured crossover (BENCH_NOTES.md Round 2, cached input,
    * local[32], min-of-2): sf0.1 (600k rows) Expand 2.04s vs two-phase
    * 1.19s (1.7×); 8× key-shifted corpus (4.8M rows) 11.19s vs 2.66s
    * (4.2×). The two-phase shape wins at every measured scale — the r2
    * end-to-end bench delta (0.49→0.76s) was cold-scan + extra-job
    * latency at small SF, and the gap widens super-linearly with volume
    * exactly as the Expand shuffle-multiplication predicts. */
  val q47ApproxDistinct: Q = (s, dir) => {
    val li = load(s, dir, "lineitem")
    def exact(c: String, as: String) =
      li.select(col("l_returnflag"), col(c)).distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as(as))
    val approx = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("ap"),
        approx_count_distinct(col("l_orderkey")).as("ao"))
    exact("l_partkey", "exact_parts")
      .join(exact("l_orderkey", "exact_orders"), Seq("l_returnflag"))
      .join(approx, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
        (abs(col("ap") - col("exact_parts")) <= col("exact_parts") * 0.15 + 10)
          .as("parts_approx_ok"),
        (abs(col("ao") - col("exact_orders")) <= col("exact_orders") * 0.15 + 10)
          .as("orders_approx_ok"))
      .orderBy("l_returnflag")
  }

  /** Mergeable HLL distinct sketch ([[graft.ops.Hll]]) audited against the
    * exact counts — the per-shard → global distinct-count roll-up that
    * exact COUNT(DISTINCT) cannot support (per-shard exact counts don't
    * add; per-shard sketches max-merge exactly). Per return flag:
    *  - `exact_parts` — exact distinct part keys (two-phase, q47 shape);
    *  - `est_ok` — the direct per-group sketch estimate lands within
    *    10%+10 of exact (≈ 6σ of the p=12 sketch's 1.6% rsd; the sketch is
    *    hash-based, no RNG, so the verdict is deterministic);
    *  - `merge_exact` — the group sketch rebuilt by max-merging 8
    *    orderkey-sharded sub-sketches is BIT-IDENTICAL to the directly
    *    built one (the mergeability contract itself, in-query).
    * The oracle asserts the exact counts + TRUE×2 (q47/q73 pattern), so an
    * estimation or merge regression hash-mismatches. */
  val q76HllDistinct: Q = (s, dir) => {
    val li = load(s, dir, "lineitem")
    val exact = li.select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy("l_returnflag").agg(count(lit(1)).as("exact_parts"))
    val direct = li.groupBy("l_returnflag")
      .agg(Hll.sketch(col("l_partkey")).as("sk_direct"))
    val sharded = li
      .withColumn("shard", pmod(col("l_orderkey"), lit(8)))
      .groupBy("l_returnflag", "shard")
      .agg(Hll.sketch(col("l_partkey")).as("sk"))
      .groupBy("l_returnflag")
      .agg(Hll.merge(col("sk")).as("sk_merged"))
    exact.join(direct, Seq("l_returnflag")).join(sharded, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(Hll.estimate(col("sk_direct")) - col("exact_parts")) <=
          col("exact_parts") * 0.1 + 10).as("est_ok"),
        (col("sk_direct") === col("sk_merged")).as("merge_exact"))
      .orderBy("l_returnflag")
  }

  /** Sequence packing (concat-and-chunk to a 2048-token budget, per
    * source shard) — the batch-building step of an LM training pipeline.
    * Fully SQL-expressible (windowed running sum) → true DuckDB oracle. */
  val q53Pack: Q = (s, dir) => {
    graft.ops.Packing.packGreedy(load(s, dir, "documents"),
      "source", "doc_id", "text", tokenBudget = 2048)
      .orderBy("source", "pack_id")
  }

  /** Document chunking: fixed 64-token windows with stride 32 (overlapping
    * context windows for retrieval/embedding). Token slicing + joining is
    * pure list arithmetic → fully replayed by the DuckDB oracle. */
  val q54Chunk: Q = (s, dir) => {
    graft.ops.Packing.chunkFixed(load(s, dir, "documents"),
      "doc_id", "text", window = 64, stride = 32)
      .orderBy("doc_id", "chunk_id")
  }

  /** PII scrub with PLANTED emails (every 10th doc gets a synthetic
    * address appended in-query, so the redaction provably fires): counts
    * and redacted-length deltas per source, oracle-checked. */
  val q55Redact: Q = (s, dir) => {
    val planted = load(s, dir, "documents")
      .withColumn("text2",
        when(pmod(col("doc_id"), lit(10)) === 0,
          concat(col("text"), lit(" reach me at user"), col("doc_id"),
            lit("@example.com"))).otherwise(col("text")))
    val red = TextOps.redactEmails(col("text2"))
    planted.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(red =!= col("text2"), 1L).otherwise(0L)).as("n_redacted"),
        sum((length(col("text2")) - length(red)).cast("long")).as("chars_removed"))
      .orderBy("source")
  }

  /** Benchmark decontamination: training docs sharing ≥5 distinct 3-gram
    * shingles with an eval set (every 50th doc). The shingle join and
    * counts are exact list arithmetic → full DuckDB oracle. */
  val q56Contamination: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val evalSet = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
    Dedup.contaminationPairs(docs, "doc_id", evalSet, "doc_id", "text",
      shingleLen = 3, minShared = 5L)
      .orderBy("train_id", "eval_id")
  }

  /** Stratified sampling to a target language mix, with in-query
    * tolerance verdicts: exact stratum totals are oracle-checked and the
    * booleans assert the realized sample stays within ~4σ of the binomial
    * expectation (oracle asserts TRUE). */
  val q57StratifiedSample: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val fractions = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25,
      "es" -> 0.25, "zh" -> 0.25)
    val sampled = graft.ops.Sampling.stratified(docs, "lang", fractions, seed = 42L)
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
    docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
      .join(sampled, Seq("lang"), "left")
      .na.fill(0L, Seq("n_sampled"))
      .withColumn("expected",
        col("n_total") * coalesce(try_element_at(
          map(fractions.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*),
          col("lang")), lit(0.0)))
      .select(col("lang"), col("n_total"),
        (abs(col("n_sampled") - col("expected")) <=
          sqrt(col("expected")) * 4 + 4).as("sample_ok"))
      .orderBy("lang")
  }

  /** Deterministic shuffle/shard (reproducible epoch order): invertible
    * affine hash of the id → shard assignment; per-shard stats are exact
    * in any engine → full DuckDB oracle. */
  val q58Shard: Q = (s, dir) => {
    graft.ops.Sampling.deterministicShard(load(s, dir, "documents"), "doc_id", nShards = 8)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min_by(col("doc_id"), col("shuffle_key")).as("first_doc"))
      .orderBy("shard")
  }

  /** Multimodal frame sampling (video-shaped payloads): fixed-size frames,
    * every 4th kept. Frame counts/sizes are byte arithmetic → full DuckDB
    * oracle; per-sampled-frame summary per media id. */
  val q59FrameSample: Q = (s, dir) => {
    val media = Multimodal.asMediaTable(load(s, dir, "documents"), "doc_id", "text",
      mediaType = "video")
    Multimodal.frameSample(media, frameBytes = 256, stride = 4)
      .groupBy("media_id")
      .agg(max(col("n_frames")).as("n_frames"),
        count(lit(1)).as("n_sampled"),
        sum(col("frame_bytes")).as("sampled_bytes"))
      .orderBy("media_id")
  }

  /** The full curation recipe (language allow-list → quality floor →
    * exact dedup), reported as surviving docs per source. Every stage is
    * SQL-expressible (q23's quality SQL + q24's langid SQL + q21's dedup
    * SQL composed) → full DuckDB oracle of the end-to-end pipeline. */
  val q60Curate: Q = (s, dir) => {
    graft.ops.Curation.curate(load(s, dir, "documents"), "doc_id", "text",
      allowedLangs = Seq("en", "de", "fr", "es"), minQuality = 40)
      .groupBy("source")
      .agg(count(lit(1)).as("n_surviving"))
      .orderBy("source")
  }

  /** Gopher-style repetition signals per source: duplicate-token fraction
    * and top-token coverage (the word-level analogues of repeated-line /
    * most-common-word corpus filters), flagged at 50% / 20%. All-integer
    * arithmetic over [[graft.ops.CorpusStats.tokenProfile]] → full DuckDB
    * oracle. */
  val q61Repetition: Q = (s, dir) => {
    val prof = graft.ops.CorpusStats.tokenProfile(
      load(s, dir, "documents"), "doc_id", "text", keep = Seq("source"))
    prof.select(col("source"),
        ((col("n_tokens") - col("n_distinct")) * 100L / col("n_tokens"))
          .cast("long").as("dup_frac"),
        (col("top_count") * 100L / col("n_tokens")).cast("long").as("top_cov"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dup_frac")).as("sum_dup_frac_x100"),
        sum(when(col("dup_frac") >= 50, 1L).otherwise(0L)).as("n_repetitive"),
        sum(when(col("top_cov") >= 20, 1L).otherwise(0L)).as("n_top_heavy"))
      .orderBy("source")
  }

  /** C4-style heuristic pre-filters as per-doc verdicts rolled up per
    * source: token-count band, longest-token cap, and lexical-diversity
    * floor (distinct ≥ half of total). Counts per rule + docs passing all
    * three — integer math, full DuckDB oracle. */
  val q62C4Filters: Q = (s, dir) => {
    val prof = graft.ops.CorpusStats.tokenProfile(
      load(s, dir, "documents"), "doc_id", "text", keep = Seq("source"))
    prof.select(col("source"),
        col("n_tokens").between(10L, 180L).as("len_ok"),
        (col("max_token_len") <= 15L).as("word_ok"),
        (col("n_distinct") * 2L >= col("n_tokens")).as("div_ok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("len_ok"), 1L).otherwise(0L)).as("n_len_ok"),
        sum(when(col("word_ok"), 1L).otherwise(0L)).as("n_word_ok"),
        sum(when(col("div_ok"), 1L).otherwise(0L)).as("n_div_ok"),
        sum(when(col("len_ok") && col("word_ok") && col("div_ok"), 1L)
          .otherwise(0L)).as("n_pass_all"))
      .orderBy("source")
  }

  /** Corpus TF-IDF surface: document frequency per token
    * ([[graft.ops.CorpusStats.documentFrequency]] — map-side-distinct
    * (doc, token) pairs, shuffle ∝ vocabulary) with the idf rounded to 8
    * decimals (libm `ln` may differ in the last ulp across engines). Top
    * 15 tokens by df with a deterministic tie-break. */
  val q63Tfidf: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val dfreq = graft.ops.CorpusStats.documentFrequency(docs, "doc_id", "text")
    // The corpus total is a SEPARATE aggregate over documents — by
    // measurement the cheapest formulation, not an oversight: column
    // pruning empties its ReadSchema (PlanSpec pins `struct<>`), so the
    // "second scan" reads parquet footers only, no data pages. The
    // alternatives are all worse at scale: persisting the distinct
    // (doc, token) pairs for reuse pins O(vocabulary × docs) in executor
    // storage for one extra scalar, and exchange-reuse formulations
    // (count_distinct / two-level groupBy over the pairs) get rewritten
    // by the optimizer into a differently-pruned child that defeats
    // ReuseExchange anyway — while forcing the count through the explode.
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    dfreq.crossJoin(nDocs)
      .select(col("tok"), col("df"),
        graft.ops.CorpusStats.idf(col("n_docs"), col("df")).as("idf"))
      .orderBy(desc("df"), asc("tok"))
      .limit(15)
  }

  /** Per-label embedding centroids over the first 8 dimensions via
    * order-independent fixed-point accumulation
    * ([[graft.ops.Similarity.groupCentroidFixedPoint]]): integer sums are
    * deterministic under any partition/merge order (double sums are not),
    * so the centroid math replays exactly in DuckDB (TRUNC = Spark's
    * toward-zero long cast). The cluster-centroid building block of
    * semantic-dedup-style curation. */
  val q64Centroid: Q = (s, dir) => {
    graft.ops.Similarity.groupCentroidFixedPoint(
      load(s, dir, "embeddings"), "label", "embedding", dims = 8)
      .orderBy("label", "dim")
  }

  /** Near-dup GROUP dedup: LSH pairs → connected components → keep one
    * doc per component ([[graft.ops.Dedup.connectedComponents]]). Verdict
    * columns (engine-independent, the q40 pattern): `n_planted` plus
    * `twin_dedup_ok`, true iff ≤5% of the planted (i, i+1,000,000) twin
    * pairs BOTH survive the component-based removal — the oracle asserts
    * COUNT(*) and TRUE, so a grouping or recall regression
    * hash-mismatches. */
  val q65NearDupGroups: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val all = withPlantedTwins(docs)
    val pairs = Dedup.minhashNearDups(all, "doc_id", "text", minSim = 0.5)
    val losers = Dedup.nearDupLosers(pairs).select(col("id").as("doc_id"))
    val survivors = all.join(losers, Seq("doc_id"), "left_anti")
    val bothSurvive = survivors.filter(col("doc_id") < 1000000L)
      .select(col("doc_id"))
      .join(survivors.filter(col("doc_id") >= 1000000L)
        .select((col("doc_id") - 1000000L).as("doc_id")), Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n_both"))
    docs.agg(count(lit(1)).as("n_planted")).crossJoin(bothSurvive)
      .select(col("n_planted"),
        (col("n_both") * 100L <= col("n_planted") * 5L).as("twin_dedup_ok"))
  }

  /** Semantic dedup over embeddings ([[graft.ops.Curation.semanticDedup]]):
    * planted identical twin vectors (id + 1,000,000) must collapse to one
    * survivor per pair. Verdict columns (q40/q65 pattern): `n_planted`
    * plus `twin_dedup_ok` — true iff ≤5% of the twin pairs both survive —
    * and `kept_bounds_ok`, which pins the survivor count into
    * [n/2, n·1.05]: the upper bound fails if dedup under-merges, the
    * lower if it over-deletes (an all-drop bug would otherwise make
    * `twin_dedup_ok` vacuously true). The oracle asserts COUNT(*) and
    * TRUE×2. */
  val q66SemanticDedup: Q = (s, dir) => {
    val emb = load(s, dir, "embeddings")
    val twins = emb.withColumn("vec_id", col("vec_id") + lit(1000000L))
    val all = emb.unionByName(twins)
    val survivors = graft.ops.Curation.semanticDedup(all, "vec_id", "embedding",
      dim = EmbeddingDim, threshold = 0.999999)
    val bothSurvive = survivors.filter(col("vec_id") < 1000000L)
      .select(col("vec_id"))
      .join(survivors.filter(col("vec_id") >= 1000000L)
        .select((col("vec_id") - 1000000L).as("vec_id")), Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_both"))
    val nKept = survivors.agg(count(lit(1)).as("n_kept"))
    emb.agg(count(lit(1)).as("n_planted")).crossJoin(bothSurvive).crossJoin(nKept)
      .select(col("n_planted"),
        (col("n_both") * 100L <= col("n_planted") * 5L).as("twin_dedup_ok"),
        (col("n_kept") * 2L >= col("n_planted") &&
          col("n_kept") * 100L <= col("n_planted") * 105L).as("kept_bounds_ok"))
  }

  /** Per-domain cap ([[Curation.capPerGroup]]): at most 30 documents per
    * source, preferring the smallest ids. The oracle replays the
    * `row_number() <= k` semantics exactly; `sum_kept_ids` pins WHICH rows
    * survived, not just how many. */
  val q67DomainCap: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val capped = Curation.capPerGroup(docs, "source", "doc_id", 30)
    val total = docs.groupBy("source").agg(count(lit(1)).as("n_total"))
    val kept = capped.groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept_ids"))
    total.join(kept, Seq("source")).orderBy("source")
  }

  /** Quality-weighted deterministic sampling ([[Sampling.keepByWeight]]):
    * keep probability = qualityScore/100 via the Knuth affine hash — fully
    * engine-replayable (the oracle recomputes both the integer score and
    * the hash), unlike `rand() < w`. Single pass: the keep-condition is a
    * per-row boolean aggregated alongside the totals, no second scan. */
  val q68WeightedSample: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val keep = Sampling.keepByWeight(col("doc_id"), col("score"))
    docs.withColumn("score", TextOps.qualityScore(col("text")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        sum(when(keep, col("score").cast("long")).otherwise(0L)).as("sum_kept_score"))
      .orderBy("source")
  }

  /** Bloom-filter decontamination prefilter ([[Bloom]]): the eval side
    * (every 50th doc, mirroring q56) builds a 2^20-bit filter via the
    * distributed OR-aggregator; the corpus is probed by a codegen'd bit
    * test on the engine-independent `graft_fingerprint` — no join or
    * shuffle touches the train side. Verdict columns (q40 pattern):
    * `n_train`/`n_contaminated` are exact and DuckDB-replayable;
    * `no_false_negatives` asserts the bloom guarantee in-query (every
    * exactly-contaminated doc must be flagged — any miss flips it false);
    * `fp_bounded` caps flagged rows at contaminated + max(25, 5% of
    * train), generous against the ~10^-6 design FP rate. */
  val q69BloomDecontam: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val evalSet = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
    val bits = Bloom.buildFromText(evalSet, col("text")) // eager small-side job
    val flagged = docs.filter(Bloom.mightContainText(col("text"), bits))
    val exact = docs.join(evalSet.select("text").distinct(), Seq("text"), "left_semi")
    val missed = exact.join(flagged.select("doc_id"), Seq("doc_id"), "left_anti")
    docs.agg(count(lit(1)).as("n_train"))
      .crossJoin(exact.agg(count(lit(1)).as("n_contaminated")))
      .crossJoin(flagged.agg(count(lit(1)).as("n_flagged_cnt")))
      .crossJoin(missed.agg(count(lit(1)).as("n_missed")))
      .select(col("n_train"), col("n_contaminated"),
        (col("n_missed") === 0L).as("no_false_negatives"),
        (col("n_flagged_cnt") <= col("n_contaminated")
          + greatest(lit(25L), col("n_train") / 20L)).as("fp_bounded"))
  }

  /** Per-group top-k via the bounded-buffer typed
    * [[graft.functions.TopKAggregator]] — the scale path for "top N per
    * key" whose shuffle carries at most k rows per key from each map task
    * (the window formulation shuffles EVERY row; the spec pins the two
    * equal). Top-3 longest documents per language, ties to the smaller
    * id, checked against the oracle's window replay. */
  val q70GroupTopk: Q = (s, dir) => {
    import s.implicits._
    val docs = load(s, dir, "documents")
    val ds = docs.select(col("lang"), col("doc_id"), col("n_chars"))
      .as[(String, Long, Long)]
    val topk = new graft.functions.TopKAggregator[(String, Long, Long)](
      3, _._3.toDouble, _._2).toColumn
    ds.groupByKey(_._1).agg(topk).toDF("lang", "topk")
      .select(col("lang"), posexplode(col("topk")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rk"),
        col("col._2").as("doc_id"), col("col._1").cast("long").as("n_chars"))
      .orderBy("lang", "rk")
  }

  /** Int8 embedding quantization ([[Similarity.quantizeInt8]]) with an
    * in-query dequantization audit. Every emitted column is either integer
    * or a floor-scaled integer of IEEE-deterministic double arithmetic
    * (float32→double casts are exact; the multiply/divide/floor chain is
    * evaluated in the same order by both engines), so the DuckDB oracle
    * replays the quantizer bit-for-bit — the q64-centroid methodology
    * applied to the quantization kernel. */
  val q71QuantizeInt8: Q = (s, dir) => {
    val emb = load(s, dir, "embeddings")
    val q = Similarity.quantizeInt8(emb, "embedding")
    q.select(col("vec_id"),
        floor(col("q_scale") * lit(1e9)).cast("long").as("scale_x1e9"),
        array_min(col("q_vec")).as("q_min"),
        array_max(col("q_vec")).as("q_max"),
        aggregate(col("q_vec"), lit(0L), (a, x) => a + x.cast("long")).as("q_sum"),
        floor(Similarity.dequantMaxErr(col("q_vec"), col("embedding"),
          col("q_scale")) * lit(1e9)).cast("long").as("max_err_x1e9"))
      .orderBy("vec_id")
  }

  /** BPE-round bigram counts ([[graft.ops.CorpusStats.bigramCounts]]):
    * the 20 most frequent adjacent token pairs — what a BPE vocabulary
    * trainer would merge next. Ties broken by pair text so the top-k is
    * deterministic; the oracle replays the zipped-adjacent UNNEST. */
  val q72BpeBigrams: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    graft.ops.CorpusStats.bigramCounts(docs, "text")
      .orderBy(desc("cnt"), asc("pair"))
      .limit(20)
  }

  /** Count-min heavy hitters ([[graft.ops.CountMin]]): sketch the bigram
    * stream, then audit the sketch against the exact top-20 (q72's
    * counts). Verdict columns (q69 pattern): `est_ge_exact` is the CMS
    * one-sided guarantee (cells only accumulate — any violation is a
    * sketch bug), `est_within_bound` caps overshoot at max(50, 4N/w).
    * Both deterministic (hash-based, no RNG), so the oracle asserts
    * exact counts + TRUE×2 and any estimation regression
    * hash-mismatches. */
  val q73CmsHeavyHitters: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val occ = graft.ops.CorpusStats.bigramOccurrences(docs, "text")
    val grid = graft.ops.CountMin.buildFromText(occ, col("pair")) // eager build
    val est = graft.ops.CountMin.estimateText(col("pair"), grid)
    graft.ops.CorpusStats.bigramCounts(docs, "text")
      .orderBy(desc("cnt"), asc("pair")).limit(20)
      .crossJoin(occ.agg(count(lit(1)).as("n_stream")))
      .select(col("pair"), col("cnt"),
        (est >= col("cnt")).as("est_ge_exact"),
        (est <= col("cnt") +
          greatest(lit(50L), col("n_stream") * 4L / 65536L)).as("est_within_bound"))
      .orderBy(desc("cnt"), asc("pair"))
  }

  /** Exact-k uniform sample ([[Sampling.uniformExactK]]): the 25 documents
    * with the smallest id-hash — fully engine-replayable order statistics
    * (PlanSpec asserts the TakeOrderedAndProject shape). */
  val q74UniformSample: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    Sampling.uniformExactK(docs, "doc_id", 25)
      .select(col("doc_id"), col("sample_key"), col("source"))
      .orderBy("sample_key")
  }

  /** Iterative BPE merge trainer ([[graft.ops.CorpusStats.bpeTrain]]):
    * three (count pairs → merge the most frequent) rounds over the
    * documents corpus — one row per round with the merged pair, its
    * pre-merge frequency, and the corpus token count after the merge.
    * The oracle replays each round in full: top-pair selection keyed on
    * the (left, right) struct with (cnt DESC, l, r) tie-break, then the
    * GREEDY non-overlap merge via run-parity (within each maximal run of
    * consecutive match positions, merges land on even offsets — provably
    * identical to the native left-to-right scan, since overlapping
    * matches only arise in runs of identical tokens). */
  val q75BpeTrain: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    graft.ops.CorpusStats.bpeTrain(docs, "text", 3).orderBy("round")
  }

  /** Train-then-ENCODE ([[graft.ops.CorpusStats.bpeEncode]]): the trained
    * 3-merge vocabulary applied back to the corpus as ONE map-only
    * whole-stage-codegen pass (k merges = k nested compiled calls — no
    * shuffle, no per-merge materialization; the 100 TB encode is exactly
    * one read). The oracle replays train + encode in full: its round-3
    * token table IS the encoded corpus, aggregated per source. */
  val q77BpeEncode: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val merges = graft.ops.CorpusStats.bpeMerges(docs, "text", 3)
    graft.ops.CorpusStats.bpeEncode(docs, "text", merges)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("tokens")).cast("long")).as("sum_tokens"))
      .orderBy("source")
  }

  /** Distributed Lloyd refinement ([[graft.ops.Ivf.refine]]) of the
    * sample-trained IVF model against the full corpus — 5 rounds, each
    * one Spark job with a k×dim-row shuffle. Verdict columns (the
    * q48/q76 pattern): `inertia_monotone` pins Lloyd's non-increasing
    * cost trace (up to fixed-point granularity: tolerance 1e-6 relative
    * + 1024 quantized units ≈ 1e-3 absolute), `improved` pins that the
    * full-corpus polish never leaves the model worse than it found it
    * (same tolerance — at these SFs the trainer's sample IS the full
    * corpus, so refinement is already converged and the trace only
    * wobbles at quantization granularity; at 100 TB, where the sample
    * is a sliver, this is where the real descent shows). Both
    * deterministic: assignments tie-break by index and the sums are
    * order-independent quantized longs. */
  val q78KmeansRefine: Q = (s, dir) => {
    val emb = load(s, dir, "embeddings")
    val model = graft.ops.Ivf.trainCached(s"$dir/embeddings", emb, "embedding", k = 8)
    val r = graft.ops.Ivf.refine(model, emb, "embedding", iters = 5)
    def leq(b: BigInt, a: BigInt): Boolean = b <= a + a / 1000000 + 1024
    val monotone = r.inertiaQ.sliding(2).forall {
      case Seq(a, b) => leq(b, a)
      case _ => true
    }
    emb.agg(count(lit(1)).as("n_vectors"))
      .select(lit(8).as("k"), col("n_vectors"),
        lit(monotone).as("inertia_monotone"),
        lit(leq(r.inertiaQ.last, r.inertiaQ.head)).as("improved"))
  }

  /** Per-group exact-k uniform sample ([[Sampling.uniformExactKPerGroup]]):
    * exactly 4 documents per language by hash order statistics — the
    * balanced-sample builder (eval slices, per-language probes). Runs as
    * a bounded-buffer aggregation (≤k pairs per group per map task, no
    * window sort); result-identical to Knuth hash + ROW_NUMBER, so the
    * DuckDB value oracle replays that formulation exactly. */
  val q79GroupSample: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    Sampling.uniformExactKPerGroup(docs, "lang", "doc_id", 4)
      .select(col("lang"), col("rk"), col("doc_id"), col("sample_key"))
      .orderBy("lang", "rk")
  }

  /** Multimodal resize stage ([[graft.ops.Multimodal.resize]]): payloads
    * resampled to a fixed 16×16 (256-byte) frame with the metadata struct
    * rewritten. The stub resample is a deterministic cycle-pad, so the
    * DuckDB oracle rebuilds each resized payload as
    * substr(repeat(text, ⌈256/len⌉), 1, 256) and md5-hashes it — an exact
    * value oracle for the binary→binary map stage (ASCII corpus: string
    * md5 == byte md5). Empty payloads are excluded on both sides (the
    * q59 convention). */
  val q81Resize: Q = (s, dir) => {
    val media = Multimodal.asMediaTable(load(s, dir, "documents"), "doc_id", "text")
      .filter(octet_length(col("payload")) > 0)
    Multimodal.resize(media, 16, 16)
      .select(col("media_id"),
        octet_length(col("payload")).cast("long").as("out_bytes"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        md5(col("payload")).as("resized_md5"))
      .orderBy("media_id")
  }

  /** Quality binning via the remaining rank-family windows (dense_rank /
    * ntile / percent_rank / cume_dist — none used elsewhere): per
    * language, documents ranked by quality score. Two windows on one
    * shuffle: the rank-family functions run over (score DESC) where TIES
    * are the interesting semantics (tie rows share dense_rank /
    * percent_rank / cume_dist), while ntile runs over the tie-broken
    * total order (score DESC, doc_id) — ntile splits ties positionally,
    * so determinism requires a unique order. Ratios rounded to 8 decimals
    * (the idf convention) for cross-engine exactness. */
  val q82QualityDeciles: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ties = Window.partitionBy("lang").orderBy(desc("score"))
    val total = Window.partitionBy("lang").orderBy(desc("score"), asc("doc_id"))
    load(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        TextOps.qualityScore(col("text")).as("score"))
      .select(col("lang"), col("doc_id"), col("score"),
        dense_rank().over(ties).as("drk"),
        ntile(10).over(total).as("decile"),
        round(percent_rank().over(ties), 8).as("pct_rank"),
        round(cume_dist().over(ties), 8).as("cume"))
      .orderBy("lang", "doc_id")
  }

  /** Unigram log-probability quality scoring
    * ([[graft.ops.CorpusStats.unigramLogProb]]): each document's token
    * mass scored under the corpus's own unigram model, in exact integer
    * 1e-8 units — fully SQL-replayable (DuckDB LN agrees at the rounded
    * 8th decimal, the idf convention), a true value oracle. */
  val q83UnigramLogprob: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    graft.ops.CorpusStats.unigramLogProb(docs, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** PMI collocation mining ([[graft.ops.CorpusStats.topPmiPairs]]): the
    * 20 adjacent pairs whose joint frequency most exceeds the unigram
    * prediction (min count 5). Exact integer 1e-8 PMI units — a true
    * DuckDB value oracle replaying the same division tree and rounding. */
  val q84PmiCollocations: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    graft.ops.CorpusStats.topPmiPairs(docs, "text", minCount = 5, k = 20)
  }

  /** Mergeable DDSketch quantile sketch ([[graft.ops.DdSketch]]) audited
    * against the exact percentiles — completes the sketch family's
    * roll-up story (q69 Bloom membership, q73 CMS frequency, q76 HLL
    * distinct): per-shard quantile summaries that COMBINE, which
    * per-shard `percentile`/`approx_percentile` results cannot. Per
    * return flag:
    *  - exact median/p95 prices via the bounded-memory histogram
    *    formulation (the q80 path — bit-identical to QUANTILE_CONT);
    *  - `q50_ok`/`q95_ok` — the direct sketch estimate lands within the
    *    α=1% RELATIVE guarantee (+1.0 absolute slack for the gap between
    *    the element quantile the sketch answers and the interpolated
    *    exact value, the q52 convention); deterministic — the sketch is
    *    bucket arithmetic, no RNG;
    *  - `merge_exact` — the group sketch rebuilt by merging 8
    *    orderkey-sharded sub-sketches is BIT-IDENTICAL to the directly
    *    built one (exact mergeability in-query, the q76 contract).
    * Oracle asserts the exact percentiles + TRUE×3. */
  val q85DdQuantile: Q = (s, dir) => {
    // NOT persisted (r14 measured): OpCaches.persist of the 600k-row
    // projection cost more than the three re-scans it saves — the
    // parquet scan+cast is cheaper than a memory-store write+read here.
    // NOT spread either (r15 measured, 4-run same-window A/B with
    // matched q96 canaries): Spread.toCores on this projection lost
    // 1.95 → 2.59 s — the single-task round-robin shuffle write plus
    // three exchange reads cost more than 32-way partial aggregation
    // saves; same economics as the rejected persist.
    // NOT the narrower (returnflag, price)-only persist for the two
    // consumers that skip orderkey either (r15, VERDICT r14 item 5:
    // same-window 3-run A/B, matched canaries 0.88/0.90): 2.91 → 3.67 s
    // against — fewer cached bytes, but still a memory-store write plus
    // two reads versus two cheap 2-column parquet re-scans
    val li = load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"),
        dec2(col("l_extendedprice")).cast("double").as("price"))
    val exact = graft.ops.ExactPercentile.byHistogram(li, "l_returnflag",
      "price", Seq("median_price" -> 0.5, "p95_price" -> 0.95))
    val direct = li.groupBy("l_returnflag")
      .agg(graft.ops.DdSketch.sketch(col("price")).as("sk_direct"))
    val sharded = li
      .withColumn("shard", pmod(col("l_orderkey"), lit(8)))
      .groupBy("l_returnflag", "shard")
      .agg(graft.ops.DdSketch.sketch(col("price")).as("sk"))
      .groupBy("l_returnflag")
      .agg(graft.ops.DdSketch.merge(col("sk")).as("sk_merged"))
    def ok(q: Double, exactCol: org.apache.spark.sql.Column) =
      abs(graft.ops.DdSketch.quantile(col("sk_direct"), q) - exactCol) <=
        abs(exactCol) * 0.01 + 1.0
    exact.join(direct, Seq("l_returnflag")).join(sharded, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("median_price"), col("p95_price"),
        ok(0.5, col("median_price")).as("q50_ok"),
        ok(0.95, col("p95_price")).as("q95_ok"),
        (col("sk_direct") === col("sk_merged")).as("merge_exact"))
      .orderBy("l_returnflag")
  }

  /** BYTE-LEVEL BPE training ([[graft.ops.CorpusStats.bpeTrain]] with
    * [[graft.ops.CorpusStats.byteTokens]]): 3 merge rounds over UTF-8
    * byte tokens with `</w>` end-of-word markers — how production
    * tokenizer vocabularies actually train (closed 256-symbol base
    * alphabet). Same driver loop, same codegen merge pass as q75; only
    * t0 differs. The DuckDB oracle replays all three rounds over the
    * byte tokenization — a full value oracle. */
  val q87ByteBpe: Q = (s, dir) => {
    // the INT-id fast path (closed byte alphabet; BpeSpec pins it
    // merge-for-merge equal to bpeTrain(byteTokens), the string path)
    graft.ops.CorpusStats.byteBpeTrain(load(s, dir, "documents"), "text",
      rounds = 3)
  }

  /** Cross-run incremental dedup ([[graft.ops.Incremental]]): the corpus
    * split into two "daily runs" (even doc_ids = day 0, odd = day 1);
    * day 0 dedups within itself and HANDS OFF its fingerprint state as
    * parquet; day 1 then dedups against the read-back state — and the union
    * of both runs' survivors must equal a from-scratch first-seen-wins
    * dedup over the whole corpus, which is exactly what the DuckDB oracle
    * computes (the fingerprint is the engine-independent q46 rolling
    * hash, so the oracle replays the incremental run end-to-end,
    * collisions and all). The parquet round-trip is deliberately part of
    * the query: the state artifact, not the in-memory frame, is the
    * contract. */
  val q86IncrementalDedup: Q = (s, dir) => {
    import graft.ops.Incremental
    val docs = load(s, dir, "documents")
    val day0 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    twoRuns("graft_fp_state", "doc_id", day0,
      docs.filter(pmod(col("doc_id"), lit(2)) === 1),
      s.range(0).select(col("id").as("fp")), Incremental.fingerprintState(day0, "text"),
      Incremental.dedupAgainstState(_, _, "text", _))
  }

  /** KMV (theta) set-operation sketch ([[graft.ops.Kmv]]) audited against
    * exact set algebra — the family member HLL/CMS/Bloom lack: UNION and
    * INTERSECTION estimates directly between two pre-built sketches (HLL
    * intersects only via inclusion–exclusion, error ∝ union size). Over
    * the distinct part keys of return-flag A vs N:
    *  - exact per-flag / union / intersection distinct counts (one
    *    hash-aggregate pass over the distinct (flag, part) pairs);
    *  - `est_a_ok`/`est_n_ok` — per-flag sketch estimates within 10%+20
    *    of exact (≈3σ of k=1024's 3.1% rse; hash-based, no RNG, so the
    *    verdict is deterministic);
    *  - `union_ok`/`inter_ok` — sketch-to-sketch θ-sample estimates
    *    within 12%+20 (the intersection here is nearly the union, the
    *    regime where θ-sampling is tightest — planted-disjoint and
    *    small-overlap regimes are KmvSpec's job);
    *  - `merge_exact` — flag-A's sketch rebuilt by merging 8
    *    orderkey-sharded sub-sketches is BIT-IDENTICAL to the directly
    *    built one (exact mergeability in-query, the q76/q85 contract —
    *    for KMV it holds unconditionally, no collapse cap).
    * Oracle asserts the exact counts + TRUE×5 (q47/q76 pattern). */
  val q88KmvSetops: Q = (s, dir) => {
    val fk = load(s, dir, "lineitem")
      .filter(col("l_returnflag").isin("A", "N"))
      .select(col("l_returnflag").as("f"), col("l_partkey").as("pk"))
    val exact = fk.distinct()
      .groupBy("pk")
      .agg(max(when(col("f") === "A", 1).otherwise(0)).as("ia"),
        max(when(col("f") === "N", 1).otherwise(0)).as("ib"))
      .agg(sum("ia").cast("long").as("exact_a"),
        sum("ib").cast("long").as("exact_n"),
        count(lit(1)).as("exact_union"),
        sum(col("ia") * col("ib")).cast("long").as("exact_inter"))
    def sk(flag: String) = fk.filter(col("f") === flag)
      .agg(Kmv.sketch(col("pk")).as(s"sk_$flag"))
    val shardedA = load(s, dir, "lineitem")
      .filter(col("l_returnflag") === "A")
      .withColumn("shard", pmod(col("l_orderkey"), lit(8)))
      .groupBy("shard")
      .agg(Kmv.sketch(col("l_partkey")).as("sk"))
      .agg(Kmv.merge(col("sk")).as("sk_merged"))
    def ok(est: org.apache.spark.sql.Column, exactCol: org.apache.spark.sql.Column,
        tol: Double) = abs(est - exactCol) <= exactCol * tol + 20
    exact.crossJoin(sk("A")).crossJoin(sk("N")).crossJoin(shardedA)
      .select(col("exact_a"), col("exact_n"), col("exact_union"), col("exact_inter"),
        ok(Kmv.estimate(col("sk_A")), col("exact_a"), 0.10).as("est_a_ok"),
        ok(Kmv.estimate(col("sk_N")), col("exact_n"), 0.10).as("est_n_ok"),
        ok(Kmv.unionEst(col("sk_A"), col("sk_N")), col("exact_union"), 0.12).as("union_ok"),
        ok(Kmv.interEst(col("sk_A"), col("sk_N")), col("exact_inter"), 0.12).as("inter_ok"),
        (col("sk_A") === col("sk_merged")).as("merge_exact"))
  }

  /** CCNet-style line-level dedup ([[graft.ops.Dedup.lineDedupBySpan]]):
    * every distinct 10-token span keeps its first corpus-wide occurrence
    * and each document is rebuilt from its surviving spans — the
    * paragraph-hash pre-pass that removes most of a web crawl before any
    * document-level comparison runs. Winner selection groups on the
    * engine-independent rolling-hash fingerprint (q46/q86 idiom), so the
    * DuckDB oracle replays the whole pipeline — split, fingerprint,
    * first-seen-wins, reassembly — and md5-checks the rebuilt text. */
  val q89LineDedup: Q = (s, dir) =>
    Dedup.lineDedupBySpan(load(s, dir, "documents"), "doc_id", "text",
      spanTokens = 10).orderBy("doc_id")

  /** Gopher quality-rule battery ([[TextOps.gopherFlags]]) with PLANTED
    * violations so every rule provably fires (the q55 planting pattern):
    * every 7th doc gets symbol spam appended ('## ### ...'), every 11th
    * a run of numeric tokens (non-alphabetic words). Counts per rule and
    * the all-rules pass count, per source — all-integer flag arithmetic,
    * fully replayed by the DuckDB oracle. */
  val q90GopherRules: Q = (s, dir) => {
    val planted = load(s, dir, "documents").withColumn("t2",
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" ## ### ...")))
        .when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("text"),
            lit(" 12345 67890 2468 13579 98765 43210 55555 31415 27182 16180")))
        .otherwise(col("text")))
    val f = TextOps.gopherFlags(col("t2"))
    def cnt(flag: org.apache.spark.sql.Column, as: String) =
      sum(when(flag, 1L).otherwise(0L)).as(as)
    planted.select(col("source"), f.as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        cnt(col("g.len_ok"), "n_len_ok"),
        cnt(col("g.mwl_ok"), "n_mwl_ok"),
        cnt(col("g.sym_ok"), "n_sym_ok"),
        cnt(col("g.alpha_ok"), "n_alpha_ok"),
        cnt(col("g.stop_ok"), "n_stop_ok"),
        cnt(col("g.len_ok") && col("g.mwl_ok") && col("g.sym_ok") &&
          col("g.alpha_ok") && col("g.stop_ok"), "n_pass"))
      .orderBy("source")
  }

  /** Product quantization ([[graft.ops.Pq]]): 64-dim float vectors → 8
    * 4-bit-ish codes (32× compression) with per-subspace codebooks, the
    * IVF-PQ layout's storage half. In-query verdicts (q48 pattern — the
    * oracle asserts the exact vector count + TRUE×3):
    *  - `codes_ok` — every vector encodes to exactly m codes in
    *    [0, codes);
    *  - `recon_improves` — total squared reconstruction error with 16
    *    codes per subspace beats the 1-code null quantizer (k-means
    *    objective vs the subspace mean — the training-works check);
    *  - `adc_ok` — the lookup-table ADC top-1 neighbor's TRUE distance
    *    is within 4×+1 of the exact NN distance (deterministic: seeded
    *    sample, seeded k-means — no RNG at query time). */
  val q91PqCodes: Q = (s, dir) => {
    val emb = load(s, dir, "embeddings")
    val model = graft.ops.Pq.trainCached(s"$dir/embeddings", emb, "embedding")
    val nullM = graft.ops.Pq.trainCached(s"$dir/embeddings#null", emb,
      "embedding", m = 8, codes = 1)
    val coded = emb.select(col("vec_id"),
      graft.ops.Pq.encode(model, col("embedding")).as("codes"),
      graft.ops.Pq.reconSe(model, col("embedding")).as("se"),
      graft.ops.Pq.reconSe(nullM, col("embedding")).as("se_null"))
    val stats = coded.agg(
      count(lit(1)).as("n_vectors"),
      min(size(col("codes"))).as("m_min"), max(size(col("codes"))).as("m_max"),
      min(array_min(col("codes"))).as("min_code"),
      max(array_max(col("codes"))).as("max_code"),
      sum(col("se")).as("sum_se"), sum(col("se_null")).as("sum_se_null"))
    val qv = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    def trueSe(vec: org.apache.spark.sql.Column) =
      aggregate(zip_with(vec, array(ArraySeq.unsafeWrapArray(qv.map(lit(_))): _*),
        (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
        lit(0.0), (acc, v) => acc + v)
    val others = emb.filter(col("vec_id") =!= 0)
    val exactBest = others.agg(min(trueSe(col("embedding"))).as("d_exact"))
    val adcPick = graft.ops.Pq.topKAdc(model,
        coded.filter(col("vec_id") =!= 0), "vec_id", "codes", qv, k = 1)
      .join(others.select(col("vec_id"),
        trueSe(col("embedding")).as("d_adc_true")), Seq("vec_id"))
      .select("d_adc_true")
    stats.crossJoin(exactBest).crossJoin(adcPick)
      .select(col("n_vectors"),
        (col("m_min") === 8 && col("m_max") === 8 &&
          col("min_code") >= 0 && col("max_code") <= 15).as("codes_ok"),
        (col("sum_se") < col("sum_se_null")).as("recon_improves"),
        (col("d_adc_true") <= col("d_exact") * 4.0 + 1.0).as("adc_ok"))
  }

  /** IVF-PQ: the full large-scale ANN layout — [[graft.ops.Ivf]] cells
    * prune the search to `nProbe` partitions, [[graft.ops.Pq]] codes
    * replace the vectors inside them (the index frame carries ONLY
    * (id, cell, codes): 8 bytes of payload per vector, no floats), and
    * ranking is pure lookup-table ADC. A planted exact twin of the
    * query must surface, and the ADC-optimality argument makes the
    * top-1 provable: the query's own code word attains the per-subspace
    * LUT minima, so nothing can rank strictly above the twin pair.
    * Oracle: exact count + TRUE×3 (q48 pattern). */
  val q92IvfPq: Q = (s, dir) => {
    val emb = load(s, dir, "embeddings")
    val twin = emb.filter(col("vec_id") === 0).withColumn("vec_id", lit(1000000L))
    val data = emb.unionByName(twin)
    val ivf = graft.ops.Ivf.trainCached(s"$dir/embeddings", emb, "embedding", k = 8)
    val pq = graft.ops.Pq.trainCached(s"$dir/embeddings", emb, "embedding")
    val indexed = graft.ops.Ivf.index(ivf, data, "embedding")
      .select(col("vec_id"), col("ivf_cell"),
        graft.ops.Pq.encode(pq, col("embedding")).as("codes"))
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val qd = query.map(_.toDouble).toArray
    val cells = graft.ops.Ivf.probeCells(ivf, query, nProbe = 2)
    val hits = indexed.filter(col("ivf_cell").isInCollection(cells))
      .select(col("vec_id"),
        graft.ops.Pq.adcDistance(pq, qd, col("codes")).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id")).limit(10)
    val verdict = hits.agg(
      count(lit(1)).as("n_results"),
      max(when(col("vec_id") === 1000000L, 1L).otherwise(0L)).as("found"),
      min_by(col("vec_id"), struct(col("adc_dist"), col("vec_id"))).as("top1"))
    emb.agg((count(lit(1)) + 1L).as("n_vectors")).crossJoin(verdict)
      .select(col("n_vectors"),
        (col("n_results") === 10L).as("k_ok"),
        (col("found") === 1L).as("planted_found"),
        col("top1").isin(0L, 1000000L).as("top1_is_twin"))
  }

  /** DSIR data selection ([[graft.ops.Dsir]]): hashed unigram+bigram
    * importance weights toward the English sub-corpus (the target), the
    * whole corpus scored in ONE map-only codegen pass (model = 1024
    * longs riding as a literal), top-50 by (weight desc, id) via
    * TakeOrderedAndProject. A full value oracle: rolling-hash buckets,
    * add-one smoothing and the 8-decimal 1e-8-unit log convention all
    * replay in external SQL, so a single mis-bucketed gram or a model
    * off-by-one hash-mismatches. */
  val q93DsirSelect: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val model = graft.ops.Dsir.importanceModel(
      docs.filter(col("lang") === "en"), docs, "text")
    graft.ops.Dsir.selectTop(docs, "doc_id", "text", model, k = 50)
  }

  /** Graded decontamination ([[graft.ops.Dedup.overlapScore]]): per-doc
    * fraction of distinct 3-token shingles shared with an eval set built
    * in-query (the first-12-token prefix of every 97th document — real
    * planted contamination, since each prefix's shingles certainly occur
    * in its source doc). Integer basis points, fingerprint join keys —
    * a full value oracle over every surviving doc. */
  val q94OverlapScore: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val evalDf = docs.filter(pmod(col("doc_id"), lit(97L)) === 0L)
      .select(concat_ws(" ",
        slice(graft.ops.TextOps.tokens(col("text")), 1, 12)).as("text"))
    val train = docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0L)
    graft.ops.Dedup.overlapScore(train, "doc_id", evalDf, "text")
      .orderBy("doc_id")
  }

  /** Exact set-similarity join ([[graft.ops.SetJoin.jaccardJoin]]): every
    * document pair with shingle-Jaccard ≥ 0.6, found by prefix filtering
    * (lossless — no LSH recall loss) and verified exactly. The oracle
    * computes ground truth brute-force (token equi-join over ALL pairs),
    * so any candidate the prefix filter misses, any extra pair, or any
    * off-by-one in the integer basis points hash-mismatches. */
  val q95JaccardJoin: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    graft.ops.SetJoin.jaccardJoin(docs, "doc_id", "text")
      .orderBy("id_a", "id_b")
  }

  /** BM25 ranked retrieval ([[graft.ops.Bm25]]): top-50 documents for a
    * 4-term query. Model (N, T, per-term df→idf) is one aggregation
    * collected as bytes; scoring is a map-only codegen pass into
    * TakeOrderedAndProject. The exact-rational formulation (decimal
    * `div`, 1e-8-unit idf) makes the entire ranking — scores included —
    * a full value oracle. */
  val q96Bm25TopK: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val model = graft.ops.Bm25.fit(docs, "text",
      Seq("vector", "hash", "spark", "window"))
    graft.ops.Bm25.topK(docs, "doc_id", "text", model, 50)
  }

  /** DSIR importance RESAMPLING ([[graft.ops.Dsir.resampleTop]]): the
    * paper's Gumbel-max draw from softmax(weights) — seeded-hash noise,
    * so the sample is reproducible AND fully value-oracled (weights,
    * noise, and keys all replay in external SQL). Same one-pass map-only
    * plan as q93. */
  val q97DsirResample: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val model = graft.ops.Dsir.importanceModel(
      docs.filter(col("lang") === "en"), docs, "text")
    graft.ops.Dsir.resampleTop(docs, "doc_id", "text", model, k = 50)
  }

  /** Mixture rebalancing ([[graft.ops.Curation.mixtureBalance]]): thin
    * the skewed-by-language corpus toward a 40/15/15/15/15 target mix.
    * Output is the per-domain (total, selected) table — every selected
    * count replays exactly in SQL from the same seeded fingerprints, so
    * the whole Bernoulli draw is value-oracled. */
  val q98MixtureBalance: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val sel = graft.ops.Curation.mixtureBalance(docs, "doc_id", "lang",
      Map("en" -> 4000, "de" -> 1500, "es" -> 1500, "fr" -> 1500, "zh" -> 1500))
    docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
      .join(sel.groupBy("lang").agg(count(lit(1)).as("n_selected")),
        Seq("lang"), "left")
      .select(col("lang"), col("n_total"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"))
      .orderBy("lang")
  }

  /** Token-budget selection ([[graft.ops.BudgetSelect.selectByBudget]]):
    * the best documents by quality score until 30% of the corpus's
    * tokens are spent. The engine runs the histogram-cutoff algorithm
    * (no global sort); the oracle replays the equivalent window cumsum —
    * two algorithms, one exact answer. */
  val q99BudgetSelect: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val tok = graft.ops.TextOps.tokenCount(col("text"))
    val total = docs.agg(sum(tok.cast("long"))).head().getLong(0)
    graft.ops.BudgetSelect.selectByBudget(docs, "doc_id",
      graft.ops.TextOps.qualityScore(col("text")), tok, total * 3 / 10)
      .orderBy(desc("weight"), col("doc_id"))
  }

  /** CCNet perplexity banding ([[graft.ops.CorpusStats.ccnetBuckets]]):
    * head/middle/tail terciles per language by exact integer per-token
    * log-prob — a full value oracle over every doc, band labels
    * included. */
  val q100CcnetBands: Q = (s, dir) =>
    graft.ops.CorpusStats.ccnetBuckets(
      load(s, dir, "documents"), "doc_id", "text", "lang")
      .orderBy("doc_id")

  /** Embedding quality filter ([[graft.ops.Similarity.embedQualityFilter]]):
    * vectors within cosine 0.15 of the label-0 seed centroid. Model is
    * 64 collected rows; scoring is a map-only filter; every surviving
    * (id, raw double cosine) row is compared with no tolerance. */
  val q101EmbedQuality: Q = (s, dir) => {
    val vecs = load(s, dir, "embeddings")
    graft.ops.Similarity.embedQualityFilter(vecs, "vec_id", "embedding",
      vecs.filter(col("label") === 0), dims = 64, minCosine = 0.15)
      .orderBy("vec_id")
  }

  /** Winnowing fingerprints (native [[graft.functions.WinnowExpr]];
    * [[graft.ops.TextOps.winnow]] is the HOF twin OpsSpec pins equal):
    * per-doc count and exact sum of the selected (distinct
    * window-minimum) k-gram hashes — a full value oracle over every
    * document's selected set. */
  val q102Winnow: Q = (s, dir) =>
    load(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.NativeFunctions.graft_winnow(col("text"), 5, 8)
          .as("fps"))
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fps"),
        aggregate(col("fps"), lit(0L), (a, v) => a + v).as("sum_fp"))
      .orderBy("doc_id")

  /** Epoch mixing ([[graft.ops.Curation.epochMix]]): a 2×-corpus token
    * budget across the q98 language mix, maxEpochs 4 — languages land on
    * DIFFERENT full-epoch counts plus deterministic partial epochs. The
    * per-(lang, epoch) doc/token roll-up is a full value oracle over the
    * whole manifest. */
  val q103EpochMix: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val tok = graft.ops.TextOps.tokenCount(col("text"))
    val total = docs.agg(sum(tok.cast("long"))).head().getLong(0)
    graft.ops.Curation.epochMix(docs, "doc_id", "lang", tok,
      Map("en" -> 4000, "de" -> 1500, "es" -> 1500, "fr" -> 1500,
        "zh" -> 1500), totalBudget = total * 2, maxEpochs = 4)
      .groupBy("lang", "epoch")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
      .orderBy("lang", "epoch")
  }

  /** SemDeDup with LEARNED cluster partitions ([[graft.ops.SemDedup]]):
    * identical planted twins must collapse inside their k-means cell, and
    * the group representative is the CENTROID-NEAREST member (equal
    * distance for identical twins → min id → the original). Engine-
    * independent verdict columns (the q66 pattern, plus the
    * representative law this variant adds). */
  val q104SemdedupIvf: Q = (s, dir) => {
    val emb = load(s, dir, "embeddings")
    // cell count ∝ corpus (k = 32 at every suite SF — kForCorpus floors
    // there): SemDeDup wants MANY SMALL cells — candidate pairs are
    // Σ s_c², so a fixed k goes superlinear per corpus decade (ScaleDrill
    // measured 1.24–1.34 vs 0.72 with k ∝ n; BENCH_NOTES r14). The
    // count() is one metadata-cheap pass amortized by trainCached.
    val k = graft.ops.Ivf.kForCorpus(emb.count())
    val model = graft.ops.Ivf.trainCached(s"$dir/embeddings#dedup", emb, "embedding", k = k)
    val twins = emb.withColumn("vec_id", col("vec_id") + lit(1000000L))
    val all = emb.unionByName(twins)
    val survivors = graft.ops.SemDedup.semanticDedupIvf(
      all, "vec_id", "embedding", model, eps = 0.999999)
    // verdict aggregates in ONE pass (r12 verdict item 7 — the exchange
    // diet): the previous shape probed `survivors` four ways (orig/twin
    // sets semi- and anti-joined plus a total), re-running the union +
    // anti-join subtree per consumer (27 Exchange / 13 SMJ audited).
    // Grouping once on the base id yields the same three counts —
    // n_both = bases where both ids survive, n_twin_wins = twin without
    // original (the representative tie-break law), n_kept = Σ flags —
    // from a single aggregation over ONE survivors evaluation.
    val stats = survivors
      .select(pmod(col("vec_id"), lit(1000000L)).as("base"),
        (col("vec_id") < 1000000L).as("is_orig"))
      .groupBy("base")
      .agg(max(when(col("is_orig"), 1L).otherwise(0L)).as("o"),
        max(when(!col("is_orig"), 1L).otherwise(0L)).as("t"))
      .agg(
        sum(when(col("o") === 1L && col("t") === 1L, 1L).otherwise(0L))
          .as("n_both"),
        sum(when(col("o") === 0L && col("t") === 1L, 1L).otherwise(0L))
          .as("n_twin_wins"),
        sum(col("o") + col("t")).as("n_kept"))
    emb.agg(count(lit(1)).as("n_planted"))
      .crossJoin(stats)
      .select(col("n_planted"),
        (col("n_both") * 100L <= col("n_planted") * 5L).as("twin_dedup_ok"),
        (col("n_twin_wins") === 0L).as("orig_wins_ok"),
        (col("n_kept") * 2L >= col("n_planted") &&
          col("n_kept") * 100L <= col("n_planted") * 105L).as("kept_bounds_ok"))
  }

  /** Exact stratified split ([[graft.ops.Splits.stratifiedExactSplit]]):
    * per-language 80/10/10 with EXACT floor counts, rank = seeded Knuth
    * hash order. Fully SQL-replayable (ROW_NUMBER over the same integer
    * hash), so the oracle checks every (lang, split) count. */
  val q105StratifiedSplit: Q = (s, dir) => {
    graft.ops.Splits.stratifiedExactSplit(load(s, dir, "documents"),
        "doc_id", "lang",
        Seq("train" -> 8000, "val" -> 1000, "test" -> -1), seed = 7)
      .groupBy("lang", "split")
      // sum_ids makes the oracle MEMBERSHIP-sensitive: exact floor
      // counts alone are identical under any rank order, so a wrong
      // order hash would pass a count-only compare
      .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"))
      .orderBy("lang", "split")
  }

  /** Map-only hash split ([[graft.ops.Splits.hashSplit]]): the
    * production-default split (membership deterministic per id,
    * re-runs never reassign). Value oracle replays the band arithmetic. */
  val q106HashSplit: Q = (s, dir) => {
    graft.ops.Splits.hashSplit(load(s, dir, "documents"), "doc_id",
        Seq("train" -> 9000, "holdout" -> -1), seed = 3)
      .groupBy("split")
      .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"))
      .orderBy("split")
  }

  /** Curriculum shards ([[graft.ops.Splits.curriculumShards]]): NTILE(7)
    * semantics over (n_chars, doc_id) WITHOUT the single-partition global
    * sort (histogram-decomposed rank). The oracle replays with DuckDB's
    * actual NTILE — any decomposition slip hash-mismatches. */
  val q107Curriculum: Q = (s, dir) => {
    graft.ops.Splits.curriculumShards(load(s, dir, "documents"),
        "doc_id", "n_chars", nShards = 7)
      .groupBy("shard")
      .agg(count(lit(1)).as("n"),
        min("n_chars").as("min_d"), max("n_chars").as("max_d"))
      .orderBy("shard")
  }

  /** Hard-negative mining ([[graft.ops.Similarity.hardNegatives]]): for
    * three query vectors, top-5 cosine neighbors excluding the query's
    * label class (the DPR positives-exclusion shape). Full value oracle
    * (the q26 cosine-replay contract: sequential dot fold ==
    * list_dot_product bit-for-bit). */
  val q108HardNegatives: Q = (s, dir) => {
    val emb = load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("q_id"), col("embedding"), col("label"))
    // positives of a query = its whole label class (incl. itself)
    val positives = emb.select(col("vec_id"), col("label"))
      .join(queries.select(col("q_id"), col("label")), Seq("label"))
      .select(col("q_id"), col("vec_id"))
    graft.ops.Similarity.hardNegatives(
        emb, "vec_id", "embedding",
        queries, "q_id", "embedding", positives, k = 5)
      .orderBy("query_id", "rk")
  }

  /** Substring-level contamination ([[Dedup.winnowContaminationPairs]]):
    * eval "passages" are 20-token slices out of the middle of source
    * documents — the word-shingle detector's worst case (the slice
    * boundary cuts shingles) is the winnowing guarantee's home turf (any
    * shared ≥12-char substring shares a fingerprint). Each eval slice
    * must hit at least its own source document. Full value oracle: the
    * q102 winnow replay on both sides + the fingerprint join. */
  val q109SubstringContam: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val evalDf = docs
      .filter(pmod(col("doc_id"), lit(89L)) === 0L)
      .filter(size(graft.ops.TextOps.tokens(col("text"))) >= 24)
      .select(col("doc_id").as("eval_id"),
        concat_ws(" ",
          slice(graft.ops.TextOps.tokens(col("text")), 5, 20)).as("text"))
    graft.ops.Dedup.winnowContaminationPairs(
        docs, "doc_id", evalDf, "eval_id", "text", k = 5, w = 8, minShared = 3L)
      .orderBy("train_id", "eval_id")
  }

  /** Recency-weighted sampling over the events table
    * ([[Sampling.timeDecaySample]]): keep probability decays 5%/day to a
    * 5% floor from the corpus max event day. Exact integer membership —
    * the oracle replays every per-age-bucket count and min id. */
  val q110DecaySample: Q = (s, dir) => {
    val ev = EventQueries.loadEvents(s, dir)
    graft.ops.Sampling.timeDecaySample(ev, "event_id", "ts_ns",
        decayBpPerDay = 500, floorBp = 500, seed = 0)
      .groupBy("age_days", "keep_bp")
      .agg(count(lit(1)).as("n_kept"), min("event_id").as("min_id"))
      .orderBy("age_days")
  }

  /** Intra-document repeated-span removal
    * ([[graft.functions.DespanExpr]]): every doc is planted with an
    * EXACT self-repeat (its first 32 tokens doubled), so the 16-token
    * chunks 3–4 duplicate chunks 1–2 and must vanish — the within-doc
    * half of repetition dedup (generation loops, templated boilerplate)
    * that corpus-level line dedup (q89) never sees. Full value oracle:
    * DuckDB replays the chunking, fingerprints, first-occurrence filter
    * and the CLEANED TEXT itself. */
  val q111IntraDedup: Q = (s, dir) => {
    val toks = graft.ops.TextOps.tokens(col("text"))
    val docs = load(s, dir, "documents")
      .filter(size(toks) >= 32)
      .select(col("doc_id"),
        concat_ws(" ", slice(toks, 1, 32), slice(toks, 1, 32)).as("text"))
    docs.select(col("doc_id"),
        graft.functions.NativeFunctions.graft_despan(col("text"), 16).as("cleaned"))
      .select(col("doc_id"), col("cleaned"),
        size(graft.ops.TextOps.tokens(col("cleaned"))).cast("long")
          .as("n_tokens_after"))
      .orderBy("doc_id")
  }

  /** Balanced token-mass sharding ([[graft.ops.Splits.balancedShards]]):
    * 8 shards whose WEIGHT sums (n_chars) come out near-equal via snake
    * assignment over the weight-descending rank. Full value oracle from
    * DuckDB's ROW_NUMBER + the same snake arithmetic. */
  val q112BalancedShards: Q = (s, dir) => {
    graft.ops.Splits.balancedShards(load(s, dir, "documents"),
        "doc_id", "n_chars", nShards = 8)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_weight"))
      .orderBy("shard")
  }

  /** L2 normalization ([[graft.ops.Similarity.l2Normalize]]): norm plus
    * deterministic probes of the unit vector (first/last component and
    * the sequential component sum) — every value IEEE-exact in both
    * engines, so this is a full value oracle on the normalization
    * arithmetic itself. */
  val q114Normalize: Q = (s, dir) => {
    graft.ops.Similarity.l2Normalize(load(s, dir, "embeddings"), "embedding")
      .select(col("vec_id"), col("norm"),
        try_element_at(col("unit"), lit(1)).as("u_first"),
        try_element_at(col("unit"), lit(EmbeddingDim)).as("u_last"),
        aggregate(col("unit"), lit(0.0), (a, v) => a + v).as("u_sum"))
      .orderBy("vec_id")
  }

  /** ANN-bounded hard-negative mining
    * ([[graft.ops.Similarity.hardNegativesIvf]]): the IVF-probed variant
    * must EQUAL the exact path when every cell is probed (nProbe = k,
    * the zero-recall-loss pin) and keep high recall at partial probe.
    * Engine-independent verdict columns (the q48 pattern — the k-means
    * centroids are model state no SQL replay can reproduce). */
  val q115HardNegativesIvf: Q = (s, dir) => {
    val emb = load(s, dir, "embeddings")
    // the probe index model (q48/q92's train-once cache key)
    val model = graft.ops.Ivf.trainCached(s"$dir/embeddings", emb, "embedding", k = 8)
    val queries = emb.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("q_id"), col("embedding"), col("label"))
    val positives = emb.select(col("vec_id"), col("label"))
      .join(queries.select(col("q_id"), col("label")), Seq("label"))
      .select(col("q_id"), col("vec_id"))
    def ivf(nProbe: Int) = graft.ops.Similarity.hardNegativesIvf(
      emb, "vec_id", "embedding", queries, "q_id", "embedding",
      positives, k = 5, model, nProbe)
    // persist ONLY the exact reference (r15): it is consumed THREE
    // times (both exceptAll directions + the recall semi-join), each
    // consumer otherwise re-deriving the full brute-force scoring from
    // the corpus scan. Persisting full/part too was measured and LOST
    // locally (1.40 → 1.81 s: two more eager materialization jobs +
    // stage round-trips against re-deriving 15-row broadcast joins) —
    // their two consumers each are the cheaper trade here.
    val exact = graft.ops.OpCaches.persist(graft.ops.Similarity.hardNegatives(
      emb, "vec_id", "embedding", queries, "q_id", "embedding",
      positives, k = 5))
    val full = ivf(nProbe = 8)
    val part = ivf(nProbe = 4)
    val cols = Seq("query_id", "rk", "vec_id")
    val nFullDiff = full.select(cols.map(col): _*)
      .exceptAll(exact.select(cols.map(col): _*))
      .unionByName(exact.select(cols.map(col): _*)
        .exceptAll(full.select(cols.map(col): _*)))
      .agg(count(lit(1)).as("n_full_diff"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val nHit = part.select("query_id", "vec_id")
      .join(exact.select("query_id", "vec_id"),
        Seq("query_id", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val nPart = part.agg(count(lit(1)).as("n_part"))
    queries.agg(count(lit(1)).as("n_queries"))
      .crossJoin(nFullDiff).crossJoin(nExact).crossJoin(nHit).crossJoin(nPart)
      .select(col("n_queries"),
        (col("n_full_diff") === 0L).as("full_probe_exact_ok"),
        (col("n_part") === col("n_queries") * 5L).as("k_rows_ok"),
        // 4-of-8-cell probe keeps ≥ 60% of the exact hard negatives
        (col("n_hit") * 100L >= col("n_exact") * 60L).as("recall_ok"))
  }

  /** Temperature-flattened domain mixture
    * ([[graft.ops.Curation.temperatureMixture]]): α = 0.5 sampling over
    * the language skew with budget = half the corpus. FULL value oracle
    * — the correctly-rounded-sqrt + integer-arithmetic design replays
    * bit-for-bit in DuckDB (sqrt → ×2^20 → floor → HUGEINT shares →
    * Knuth membership), so every per-language keep_bp, count and
    * member-id sum must hash-match. */
  val q118TemperatureMix: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val budget = docs.count() / 2
    graft.ops.Curation.temperatureMixture(docs, "doc_id", "lang", budget)
      .groupBy("lang", "keep_bp")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))
      .orderBy("lang")
  }

  /** Reciprocal-rank fusion ([[graft.ops.Fusion.rrf]]): hybrid
    * retrieval merging the BM25 lexical top-50 (the q96 machinery) with
    * a document-length prior ranking. FULL value oracle — both rankings
    * and the integer 1e-12-unit reciprocal sum replay exactly in SQL.
    * The row_number windows rank WITHIN already-top-k'd frames (50
    * rows), so the single-partition window is model-sized by
    * construction — the corpus-side work is the retrievers'. */
  val q120RrfFusion: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = load(s, dir, "documents")
    val model = graft.ops.Bm25.fit(docs, "text",
      Seq("vector", "hash", "spark", "window"))
    val bm = graft.ops.Bm25.topK(docs, "doc_id", "text", model, 50)
      .withColumn("rk",
        row_number().over(Window.orderBy(desc("score_x1e8"), col("doc_id"))))
      .select("doc_id", "rk")
    val prior = docs.orderBy(desc("n_chars"), col("doc_id")).limit(50)
      .withColumn("rk",
        row_number().over(Window.orderBy(desc("n_chars"), col("doc_id"))))
      .select("doc_id", "rk")
    graft.ops.Fusion.rrf(Seq(bm, prior), "doc_id")
      .orderBy(desc("rrf_x1e12"), col("doc_id"))
      .limit(20)
  }

  /** Corpus profile / data card ([[graft.ops.CorpusStats.profile]]):
    * the one-pass per-language card — exact doc/token/Gopher-pass
    * counts replay in SQL; the mergeable sketch columns are audited
    * in-engine (HLL distinct-fingerprint vs the exact distinct count,
    * DDSketch median vs the like-convention exact order statistic) and
    * surface as verdict booleans; p50_chars is the QUANTILE_DISC value
    * replay (the q117 convention). */
  val q121CorpusProfile: Q = (s, dir) => {
    import graft.ops.{CorpusStats, DdSketch, ExactPercentile, Hll}
    val docs = load(s, dir, "documents")
    val prof = CorpusStats.profile(docs, "lang", "text", "n_chars")
    val nd = docs.groupBy("lang")
      .agg(countDistinct(graft.functions.NativeFunctions
        .graft_fingerprint(col("text"))).as("nd"))
    val lens = docs.select(col("lang"), col("n_chars"))
    val disc = ExactPercentile.discByHistogram(lens, "lang", "n_chars",
      Seq("p50_chars" -> 0.5), ExactPercentile.discIndexCeil)
    val ddRef = ExactPercentile.discByHistogram(lens, "lang", "n_chars",
      Seq("__e50" -> 0.5), ExactPercentile.discIndexFloor)
    prof.join(nd, Seq("lang")).join(disc, Seq("lang")).join(ddRef, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("sum_tokens"),
        col("n_gopher_pass"), col("p50_chars"),
        (abs(Hll.estimate(col("fp_hll")) - col("nd")) <=
          col("nd").cast("double") * 0.05 + lit(2.0)).as("hll_ok"),
        (abs(DdSketch.quantile(col("len_dd"), 0.5) - col("__e50")) <=
          abs(col("__e50")) * 0.0101 + lit(1.0)).as("dd50_ok"))
      .orderBy("lang")
  }

  /** Multi-class PII scrub + release-gate audit ([[graft.ops.Pii]] — the
    * Dolma scrub taxonomy: email, phone, IPv4). PII is PLANTED in-query
    * with engine-replayable arithmetic (deterministic addresses/numbers
    * derived from doc_id) so every class provably fires and the per-class
    * counts, docs-with-pii and the signed `chars_delta` totals are exact
    * oracle-checked values, not rows>0 smoke. All four NANP phone
    * renderings the broadened [[graft.ops.Pii.Phone]] pattern covers are
    * planted (dashed, parenthesized, `+1`-spaced, dotted), so each
    * alternative provably fires. Chain order is part of the contract:
    * each class counts on the text the previous classes left. */
  val q122PiiScrub: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val planted = docs.withColumn("text2", concat(
      col("text"),
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 3,
        concat(lit(" call 555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit("-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(19)) === 4,
        concat(lit(" ring (555) "),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit("-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(23)) === 7,
        concat(lit(" cell +1 555 "),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit(" "),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(29)) === 8,
        concat(lit(" fax 555."),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit("."),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(13)) === 5,
        concat(lit(" from "),
          pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
          pmod(col("doc_id") * 7, lit(256)).cast("string"), lit("."),
          pmod(col("doc_id") * 13, lit(256)).cast("string"), lit("."),
          (pmod(col("doc_id"), lit(250)) + 1).cast("string")))
        .otherwise(lit(""))))
    graft.ops.Pii.audit(planted, "source", "text2").orderBy("source")
  }

  /** Exact dedup under text normalization ([[Dedup.exactDedupNormalized]]
    * — the CCNet-style case/punctuation/whitespace-insensitive key).
    * Mutated twins (UPPERCASED + trailing punctuation) of every 10th doc
    * are planted in-query; they MUST collapse onto their originals, which
    * raw-text exact dedup (q21) provably cannot do. Per-source kept/dropped
    * totals and the largest normalized group are oracle-checked. */
  val q123NormDedup: Q = (s, dir) => {
    val docs = load(s, dir, "documents").select("doc_id", "source", "text")
    val mutants = docs.filter(pmod(col("doc_id"), lit(10)) === 1)
      .select((col("doc_id") + lit(100000000L)).as("doc_id"), col("source"),
        concat(upper(col("text")), lit(" !!")).as("text"))
    val marked = Dedup.exactDedupNormalized(docs.unionByName(mutants),
      "text", "doc_id")
    marked.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
      max(col("n_copies")).as("max_copies"))
      .orderBy("source")
  }

  /** FINGERPRINT-keyed normalized dedup
    * ([[Dedup.exactDedupNormalizedByFingerprint]] — the production
    * variant whose one shuffle carries an 8-byte xxhash64 key instead of
    * a second copy of the text). Fixtures: the q123 mutant twins PLUS
    * '!'-run documents whose normalized form is EMPTY — the
    * [[TextOps.dedupKey]] non-Latin guard must group them by RAW text
    * (five distinct runs), not collapse them into one empty-key group.
    * The oracle replays the EXACT key, so a hash match here IS the
    * fingerprint≡exact equivalence proof on real data (collision
    * probability ≈ n²/2^65 — zero at any test SF). */
  val q126FpDedup: Q = (s, dir) => {
    val docs = load(s, dir, "documents").select("doc_id", "source", "text")
    val mutants = docs.filter(pmod(col("doc_id"), lit(10)) === 1)
      .select((col("doc_id") + lit(100000000L)).as("doc_id"), col("source"),
        concat(upper(col("text")), lit(" !!")).as("text"))
    val bangs = docs.filter(pmod(col("doc_id"), lit(17)) === 2)
      .select((col("doc_id") + lit(200000000L)).as("doc_id"), col("source"),
        repeat(lit("!"), (pmod(col("doc_id"), lit(5)) + 1).cast("int")).as("text"))
    val marked = Dedup.exactDedupNormalizedByFingerprint(
      docs.unionByName(mutants).unionByName(bangs), "text", "doc_id")
    marked.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
      max(col("n_copies")).as("max_copies"))
      .orderBy("source")
  }

  /** Duplicate-aware soft dedup ([[Dedup.duplicateWeights]]): rows are
    * WEIGHTED 1/n_copies instead of dropped, in exact integer ppm so the
    * per-source effective corpus size and the soft-deduped token budget
    * (the numbers a mixture/epoch planner consumes) are deterministic
    * across engines — no float accumulation order anywhere. */
  val q124SoftDedup: Q = (s, dir) => {
    val docs = load(s, dir, "documents").select("doc_id", "source", "text")
    val w = Dedup.duplicateWeights(docs, "text", "doc_id")
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast("long"))
    w.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("weight_ppm")).as("effective_docs_ppm"),
      sum(col("weight_ppm") * col("n_tokens")).as("weighted_tokens_ppm"))
      .orderBy("source")
  }

  /** Model-based quality filter ([[graft.ops.QualityClassifier]] — the
    * CCNet/fastText pattern with a closed-form Naive-Bayes model):
    * positive class = a trusted source slice, background = the rest;
    * per-token integer-1e-8 log-odds (the q83 ln convention), per-doc
    * summed scores, per-language calibration report. Train + score =
    * two corpus reads, model side vocabulary-sized. */
  val q125NbQuality: Q = (s, dir) => {
    val docs = load(s, dir, "documents")
    val pos = col("source").isInCollection(
      Seq("src0", "src1", "src2", "src3", "src4"))
    val model = graft.ops.QualityClassifier.fit(docs, "text", pos)
    val scored = graft.ops.QualityClassifier.score(docs, "doc_id", "text", model)
    docs.select("doc_id", "lang").join(scored, "doc_id")
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("sum_lo_x1e8") > 0, 1L).otherwise(0L)).as("n_ref_like"),
        sum(col("sum_lo_x1e8")).as("total_lo_x1e8"),
        min(col("sum_lo_x1e8")).as("min_lo_x1e8"),
        max(col("sum_lo_x1e8")).as("max_lo_x1e8"))
      .orderBy("lang")
  }

  val all: Map[String, Q] = Map(
    "q21_dedup_exact" -> q21DedupExact,
    "q22_token_stats" -> q22TokenStats,
    "q23_quality" -> q23Quality,
    "q24_langid" -> q24LangId,
    "q25_binary_meta" -> q25BinaryMeta,
    "q26_ann_brute" -> q26AnnBrute,
    "q27_vector_explode" -> q27VectorExplode,
    "q29_events_json" -> q29EventsJson,
    "q40_minhash_neardup" -> q40MinhashNearDup,
    "q41_simhash" -> q41Simhash,
    "q42_ngram_jaccard" -> q42NgramJaccard,
    "q43_ann_lsh" -> q43AnnLsh,
    "q44_embed_neardup" -> q44EmbedNearDup,
    "q45_decode_features" -> q45DecodeFeatures,
    "q46_fingerprint" -> q46Fingerprint,
    "q47_approx_distinct" -> q47ApproxDistinct,
    "q48_ann_ivf" -> q48AnnIvf,
    "q53_pack" -> q53Pack,
    "q54_chunk" -> q54Chunk,
    "q55_redact" -> q55Redact,
    "q56_contamination" -> q56Contamination,
    "q57_stratified_sample" -> q57StratifiedSample,
    "q58_shard" -> q58Shard,
    "q59_frame_sample" -> q59FrameSample,
    "q60_curate" -> q60Curate,
    "q61_repetition" -> q61Repetition,
    "q62_c4_filters" -> q62C4Filters,
    "q63_tfidf" -> q63Tfidf,
    "q64_centroid" -> q64Centroid,
    "q65_neardup_groups" -> q65NearDupGroups,
    "q66_semantic_dedup" -> q66SemanticDedup,
    "q67_domain_cap" -> q67DomainCap,
    "q68_weighted_sample" -> q68WeightedSample,
    "q69_bloom_decontam" -> q69BloomDecontam,
    "q70_group_topk" -> q70GroupTopk,
    "q71_quantize_int8" -> q71QuantizeInt8,
    "q72_bpe_bigrams" -> q72BpeBigrams,
    "q75_bpe_train" -> q75BpeTrain,
    "q73_cms_heavy_hitters" -> q73CmsHeavyHitters,
    "q74_uniform_sample" -> q74UniformSample,
    "q76_hll_distinct" -> q76HllDistinct,
    "q77_bpe_encode" -> q77BpeEncode,
    "q78_kmeans_refine" -> q78KmeansRefine,
    "q79_group_sample" -> q79GroupSample,
    "q81_resize" -> q81Resize,
    "q82_quality_deciles" -> q82QualityDeciles,
    "q83_unigram_logprob" -> q83UnigramLogprob,
    "q84_pmi_collocations" -> q84PmiCollocations,
    "q85_dd_quantile" -> q85DdQuantile,
    "q86_incremental_dedup" -> q86IncrementalDedup,
    "q87_byte_bpe" -> q87ByteBpe,
    "q88_kmv_setops" -> q88KmvSetops,
    "q89_line_dedup" -> q89LineDedup,
    "q90_gopher_rules" -> q90GopherRules,
    "q91_pq_codes" -> q91PqCodes,
    "q92_ivf_pq" -> q92IvfPq,
    "q93_dsir_select" -> q93DsirSelect,
    "q94_overlap_score" -> q94OverlapScore,
    "q95_jaccard_join" -> q95JaccardJoin,
    "q96_bm25_topk" -> q96Bm25TopK,
    "q97_dsir_resample" -> q97DsirResample,
    "q98_mixture_balance" -> q98MixtureBalance,
    "q99_budget_select" -> q99BudgetSelect,
    "q100_ccnet_bands" -> q100CcnetBands,
    "q101_embed_quality" -> q101EmbedQuality,
    "q102_winnow" -> q102Winnow,
    "q103_epoch_mix" -> q103EpochMix,
    "q104_semdedup_ivf" -> q104SemdedupIvf,
    "q105_stratified_split" -> q105StratifiedSplit,
    "q106_hash_split" -> q106HashSplit,
    "q107_curriculum" -> q107Curriculum,
    "q108_hard_negatives" -> q108HardNegatives,
    "q109_substring_contam" -> q109SubstringContam,
    "q110_decay_sample" -> q110DecaySample,
    "q111_intra_dedup" -> q111IntraDedup,
    "q112_balanced_shards" -> q112BalancedShards,
    "q114_normalize" -> q114Normalize,
    "q115_hard_negatives_ivf" -> q115HardNegativesIvf,
    "q118_temperature_mix" -> q118TemperatureMix,
    "q120_rrf_fusion" -> q120RrfFusion,
    "q121_corpus_profile" -> q121CorpusProfile,
    "q122_pii_scrub" -> q122PiiScrub,
    "q123_norm_dedup" -> q123NormDedup,
    "q124_soft_dedup" -> q124SoftDedup,
    "q125_nb_quality" -> q125NbQuality,
    "q126_fp_dedup" -> q126FpDedup,
    "q127_audio_decode" -> q127AudioDecode,
    "q128_html_extract" -> q128HtmlExtract,
    "q129_url_canon" -> q129UrlCanon,
    "q130_compression_ratio" -> q130CompressionRatio,
    "q131_heavy_hitters" -> q131HeavyHitters,
    "q132_perlang_dedup" -> q132PerLangDedup,
    "q133_web_curation" -> q133WebCuration,
    "q134_url_psl" -> q134UrlPsl,
    "q135_media_dispatch" -> q135MediaDispatch,
    "q136_hh_rollup" -> q136HhRollup,
    "q137_domain_cap_bounded" -> q137DomainCapBounded,
    "q138_incremental_web" -> q138IncrementalWeb,
    "q139_gif_frames" -> q139GifFrames,
    "q140_image_phash" -> q140ImagePhash,
    "q141_audio_phash" -> q141AudioPhash,
    "q142_incremental_images" -> q142IncrementalImages,
    "q143_mojibake" -> q143Mojibake,
    "q144_incremental_images_near" -> q144IncrementalImagesNear,
    "q145_incremental_audio" -> q145IncrementalAudio,
    "q146_video_seq" -> q146VideoSeq,
    "q147_incremental_video" -> q147IncrementalVideo,
    "q148_incremental_audio_near" -> q148IncrementalAudioNear,
    "q149_media_curation" -> q149MediaCuration,
  )
}
