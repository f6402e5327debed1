package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× suite-scale drill for the three heaviest queries' operator shapes
  * (q133 web curation, q104 SemDeDup-IVF, q65 minhash near-dup + CC) —
  * the local[32] analogue of the 100× question the scale brief keeps
  * asking: generate 1× and 10× the sf0.1 row counts partition-parallel
  * via [[graft.sources.SynthDocsSource]] (no driver materialization),
  * run each shape isolated with wall/peak-task-memory/spill capture
  * ([[Probe]], over Bench's timed region), and print the per-decade
  * scaling exponent `log10(t_10x / t_1x)` — 1.0 = perfectly linear,
  * > 1 sublinear degradation worth a ranked item. Results land in
  * BENCH_NOTES.
  *
  * Run: `runMain graft.tools.ScaleDrill [scale1 scale2 ...]`
  * (defaults 1 10; rows/scale pinned to sf0.1's 5000 docs / 2000
  * embeddings so scale 1 is comparable to the suite numbers).
  */
object ScaleDrill {

  def main(args: Array[String]): Unit = {
    val scales = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 10)
    val spark = graft.GraftSession.local()
    val probe = Probe(spark)

    def synthDocs(rows: Long): DataFrame =
      spark.read.format("graft-synth")
        .option("rows", rows).option("partitions", 32).load()

    /** q133's page construction over synthetic docs (the arithmetic of
      * BENCH_NOTES.md Round 12's q133 attribution — same host/url/html
      * shape, so the curation chain does the same per-row work as the
      * suite query). */
    def pages(rows: Long): DataFrame = {
      val docs = synthDocs(rows)
      val d2 = col("doc_id")
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
          "<a href=\"/contact\">Contact</a></nav><p>"), col("text"),
        lit("</p><p>"), p2, lit("</p>" +
          "<ul><li><a href=\"/t1\">tag one</a></li>" +
          "<li><a href=\"/t2\">tag two</a></li></ul>" +
          "<footer>(c) 2026 <a href=\"/tos\">Terms</a> " +
          "<a href=\"/privacy\">Privacy</a></footer></body></html>"))
      val host = when(m(13) === 0L, lit("Spam.Tracker.NET"))
        .when(m(3) === 0L, concat(lit("WWW.Shop"), m(23).cast("string"), lit(".COM")))
        .when(m(3) === 1L, concat(lit("news.site"), m(19).cast("string"), lit(".co.uk")))
        .otherwise(concat(lit("cdn.media"), m(17).cast("string"), lit(".org")))
      val url = concat(lit("https://"), host,
        when(m(29) === 5L, concat(lit("/static/app."), m(50).cast("string"), lit(".js")))
          .otherwise(concat(lit("/Article/"), m(50).cast("string"))),
        lit("?utm_source=feed"),
        when(m(2) === 0L, concat(lit("&p="), m(9).cast("string"))).otherwise(lit("")))
      docs.select(col("doc_id"), col("source"), url.as("url"), html.as("html"))
    }

    /** Deterministic pseudo-random unit-scale embedding per id — the
      * q104 shape needs vectors, which the synth source doesn't carry;
      * 64 hash-derived doubles in [-1, 1). */
    def synthEmb(rows: Long): DataFrame =
      synthDocs(rows).select(col("doc_id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          i => (pmod(xxhash64(col("doc_id"), i), lit(2000L)) - 1000L)
            .cast("double") / 1000.0).as("embedding"))

    /** Min seconds of two fresh runs; peak memory and spill cover both. */
    def t(label: String, rows: Long)(mk: => DataFrame): Double = {
      val (secs, c) = probe.measure((1 to 2).map(_ => Probe.seconds(mk)).min)
      println(f"[scale-drill] $label%-14s rows=$rows%9d  $secs%7.2fs  " +
        f"peak=${c.peakMem / (1L << 20)}%6d MiB  spill=${c.spill / (1L << 20)}%6d MiB")
      secs
    }

    val results = scala.collection.mutable.Map.empty[(String, Int), Double]
    for (s <- scales) {
      val nDocs = 5000L * s
      val nEmb = 2000L * s
      results(("q133-shape", s)) = t("q133-shape", nDocs) {
        graft.ops.Curation.curateWeb(pages(nDocs), "doc_id", "url", "html",
          allowedLangs = Seq("en", "de", "fr", "es"), minQuality = 40,
          blockedDomains = Seq("tracker.net"), maxPerDomain = 40 * s)
      }
      results(("q65-shape", s)) = t("q65-shape", nDocs) {
        val docs = synthDocs(nDocs)
        val pairs = graft.ops.Dedup.minhashNearDups(docs, "doc_id", "text",
          minSim = 0.5, maxBucket = 200 * s)
        val losers = graft.ops.Dedup.nearDupLosers(pairs)
          .select(col("id").as("doc_id"))
        docs.join(losers, Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n_kept"))
      }
      // fixed k: the suite configuration — cells GROW with the corpus,
      // so the intra-cell pair count grows quadratically per cell (the
      // Σs² term). Expect a superlinear exponent: this is the measured
      // argument for scaling the cell count with the corpus.
      val model = graft.ops.Ivf.train(synthEmb(nEmb), "embedding", k = 32)
      def semdedup(m: graft.ops.Ivf.IvfModel) = {
        val emb = synthEmb(nEmb)
        val twins = emb.withColumn("vec_id", col("vec_id") + lit(10000000L))
        graft.ops.SemDedup.semanticDedupIvf(
          emb.unionByName(twins), "vec_id", "embedding", m,
          eps = 0.999999)
          .agg(count(lit(1)).as("n_kept"))
      }
      results(("q104-shape", s)) = t("q104-shape", nEmb)(semdedup(model))
      // k ∝ corpus: constant expected cell SIZE — the 100 TB
      // configuration (SemDeDup's own recipe: cells bounded, count
      // scales). Expect the exponent back to ~1.
      val kScaled = math.max(32, 32 * s / 10)
      val modelScaled =
        if (kScaled == 32) model
        else graft.ops.Ivf.train(synthEmb(nEmb), "embedding", k = kScaled)
      results(("q104-kscaled", s)) =
        t(s"q104-k$kScaled", nEmb)(semdedup(modelScaled))
    }
    for (q <- Seq("q133-shape", "q65-shape", "q104-shape", "q104-kscaled");
         a <- scales; b <- scales if b > a) {
      val exp = math.log(results((q, b)) / results((q, a))) /
        math.log(b.toDouble / a)
      println(f"[scale-drill] $q%-14s ${a}x -> ${b}x exponent = $exp%.2f " +
        "(1.0 = linear)")
    }
    spark.stop()
  }
}
