package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact-threshold set-similarity self-join via prefix filtering (the
  * AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08).
  * Returns EVERY document pair whose shingle-set Jaccard meets the
  * threshold — no LSH recall loss — while never materializing all pairs.
  *
  * The filter: order each document's shingle set by GLOBAL rarity
  * (document frequency asc, fingerprint asc — a total order shared by all
  * documents) and keep only the first `n − ⌈t·n⌉ + 1` elements as its
  * "prefix". Two sets with Jaccard ≥ t must share at least one prefix
  * element (if they shared none, the overlap is confined to the suffixes,
  * which are too short: overlap ≤ n − prefixLen = ⌈t·n⌉ − 1 < the
  * required t/(1+t)·(n_a+n_b) minimum). So a candidate equi-join on
  * prefix elements is LOSSLESS, and because prefixes hold the RAREST
  * elements, candidate buckets are naturally small — frequent boilerplate
  * shingles never generate pairs.
  *
  * Scale shape: shingles travel as Rabin-Karp fingerprints
  * ([[TextOps.fingerprint]], 8-byte longs, engine-replayable); document
  * frequency is one bounded-key aggregation; the candidate join's
  * per-bucket fan-out is bounded by the df of the RAREST element of each
  * document; a size-ratio filter (`t·max ≤ min`, a Jaccard necessary
  * condition) prunes before verification; verification touches candidate
  * pairs only, via `array_intersect` on the already-sorted fingerprint
  * arrays. All arithmetic is integer basis points — the output is exact
  * and engine-independent, so the oracle can compute ground truth with a
  * completely different algorithm (brute-force token join) and must match
  * value-for-value.
  */
object SetJoin {

  /** All pairs `(id_a < id_b)` with word-shingle Jaccard ≥
    * `minJaccardBp/10000`, as `(id_a, id_b, jaccard_bp)` with
    * `jaccard_bp = ⌊10000·|A∩B| / |A∪B|⌋`. */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, minJaccardBp: Int = 6000): DataFrame = {
    require(minJaccardBp > 0 && minJaccardBp <= 10000,
      "minJaccardBp must be in (0, 10000]")
    // native codegen'd shingle fingerprints (FunctionsSpec pins ==
    // array_distinct(transform(wordShingles, fingerprint)) — the HOF twin
    // paid an interpreted lambda + boxing per CHARACTER and was the
    // single heaviest stage of the query: 4.5s of the 5.4s isolated total
    // at sf0.1 went to this explode before the swap)
    val fps = df.select(col(idCol).as("id"),
      explode(graft.functions.NativeFunctions
        .graft_shingle_fps(col(textCol), shingleLen)).as("fp"))
    // global document frequency via count-over-window: ONE shuffle on fp
    // annotates every (id, fp) row in place — the groupBy+self-join
    // formulation costs two exchanges of the same rows for the same
    // result (r7 shape; the swap removed ~1s at sf0.1)
    val withDf = fps.withColumn("dfq",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
    // per-doc fingerprints sorted rare-first; persisted because it feeds
    // the prefix explode AND both sides of the verification join. Only
    // this doc-collapsed frame is cached — holding the raw (id, fp)
    // explode through the candidate join was the r7 in-suite cache-
    // pressure spike (23.9s); nothing re-reads it now, so nothing pins it.
    val sorted = OpCaches.persist(withDf
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("dfq"), col("fp")))),
        s => s.getField("fp")).as("fps"))
      .withColumn("n", size(col("fps")).cast("long")))
    // prefixLen = n − ⌈t·n⌉ + 1 (integer: ⌈a/b⌉ = (a + b − 1) div b)
    val pref = sorted.select(col("id"), col("n"),
      explode(slice(col("fps"), lit(1),
        expr(s"cast(n - ((${minJaccardBp}L * n + 9999) div 10000) + 1 as int)")))
        .as("fp"))
    val cands = pref.select(col("id").as("id_a"), col("n").as("n_a"), col("fp"))
      .join(pref.select(col("id").as("id_b"), col("n").as("n_b"), col("fp")),
        Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("n_a"), col("n_b")) * 10000L >=
        lit(minJaccardBp.toLong) * greatest(col("n_a"), col("n_b")))
      .select("id_a", "id_b").distinct()
    cands
      .join(sorted.select(col("id").as("id_a"), col("fps").as("fps_a"),
        col("n").as("n_a")), Seq("id_a"))
      .join(sorted.select(col("id").as("id_b"), col("fps").as("fps_b"),
        col("n").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("fps_a"), col("fps_b"))).cast("long")
          .as("inter"),
        (col("n_a") + col("n_b")).as("sz"))
      .select(col("id_a"), col("id_b"),
        expr("inter * 10000 div (sz - inter)").as("jaccard_bp"))
      .filter(col("jaccard_bp") >= minJaccardBp)
  }
}
