package graft.ops

import graft.GraftSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Detection-quality tests for the dedup / similarity operators: plant
  * known duplicates, require the detectors to find them (recall) without
  * drowning them (precision is data-dependent for word-soup corpora, so
  * the planted-pair recall is the hard assertion). */
class OpsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  val sf = "/root/testdata/sf0.001"
  val offset = 1000000L

  lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  lazy val withTwins = {
    val twins = docs
      .withColumn("doc_id", col("doc_id") + lit(offset))
      .withColumn("text", concat(col("text"), lit(" twin")))
    docs.unionByName(twins)
  }

  test("exact dedup keeps one representative per distinct text") {
    val dup = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + lit(offset)))
    val kept = Dedup.exactDedup(dup, "text", "doc_id")
    assert(kept.count() == docs.count())
    // representative is the min id → all keep_ids are original ids
    assert(kept.filter(col("keep_id") >= offset).count() == 0)
    assert(kept.filter(col("n_copies") =!= 2).count() == 0)
  }

  test("line-level span dedup: first occurrence wins, docs rebuilt from survivors") {
    import spark.implicits._
    // doc 1 owns spans A B; doc 2 repeats A then adds C; doc 3 is all
    // stolen material. span = 2 tokens
    val df = Seq(
      (1L, "a1 a2 b1 b2"),       // spans: [a1 a2], [b1 b2]
      (2L, "a1 a2 c1 c2"),       // [a1 a2] claimed by doc 1 → keeps [c1 c2]
      (3L, "b1 b2 a1 a2")        // both claimed → empty rebuild
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedupBySpan(df, "doc_id", "text", spanTokens = 2)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 2L), (2L, 2L, 1L), (3L, 2L, 0L)))
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0).getString(3) == md5("a1 a2 b1 b2"))
    assert(out(1).getString(3) == md5("c1 c2"))
    assert(out(2).getString(3) == md5(""))
    // duplicate span WITHIN one doc: only the first index survives
    val selfDup = Seq((7L, "x1 x2 x1 x2 y1 y2")).toDF("doc_id", "text")
    val r = Dedup.lineDedupBySpan(selfDup, "doc_id", "text", spanTokens = 2)
      .collect().head
    assert((r.getLong(1), r.getLong(2)) == (3L, 2L))
    assert(r.getString(3) == md5("x1 x2 y1 y2"))
  }

  test("minhash LSH finds nearly all planted near-dup pairs") {
    val pairs = Dedup.minhashNearDups(withTwins, "doc_id", "text")
      .filter(col("id_b") === col("id_a") + offset)
    val n = docs.count()
    assert(pairs.count() >= (n * 95) / 100, s"recall too low: ${pairs.count()}/$n")
  }

  test("ngram jaccard verification scores planted twins high") {
    val verified = Dedup.ngramJaccardNearDups(withTwins, "doc_id", "text",
      shingleLen = 3, minJaccard = 0.6)
      .filter(col("id_b") === col("id_a") + offset)
    val n = docs.count()
    assert(verified.count() >= (n * 90) / 100)
    assert(verified.agg(min("jaccard")).head().getDouble(0) >= 0.6)
  }

  test("simhash of identical texts is identical; hamming distance of twins is small") {
    val sig = Dedup.simhash(TextOps.tokens(col("text")))
    val a = docs.select(col("doc_id"), sig.as("s1"))
    val b = withTwins.filter(col("doc_id") >= offset)
      .select((col("doc_id") - offset).as("doc_id"), sig.as("s2"))
    val joined = a.join(b, "doc_id")
      .select(bit_count(col("s1").bitwiseXOR(col("s2"))).as("hamming"))
    // appending one token flips few of the 60 bits
    assert(joined.agg(avg("hamming")).head().getDouble(0) < 8.0)
  }

  test("brute-force ANN: self is top result, results sorted") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 7).select("embedding").head().getSeq[Float](0)
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5).collect()
    assert(top.head.getLong(0) == 7L)
    assert(top.head.getDouble(1) > 0.999)
    val sims = top.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("cosine near-dup pairs find planted identical vectors") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val twins = emb.withColumn("vec_id", col("vec_id") + lit(offset))
    val pairs = Similarity.cosineNearDupPairs(emb.unionByName(twins),
      "vec_id", "embedding", dim = 64, threshold = 0.999)
      .filter(col("id_b") === col("id_a") + offset)
    assert(pairs.count() == emb.count()) // identical vector → same bucket, cos=1
  }

  test("cosine near-dup: maxBucket cap stops quadratic blowup on degenerate corpora") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val hot = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    // pathological corpus: 2000 IDENTICAL vectors (one LSH bucket) planted
    // among the real ones → ~2M same-bucket pairs if uncapped
    val hotCol = array(hot.map(v => lit(v)): _*)
    val clones = spark.range(2000000L, 2002000L)
      .select(col("id").as("vec_id"), hotCol.cast("array<float>").as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(clones)
    val capped = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding",
      dim = 64, threshold = 0.999, bits = 8, maxBucket = 100)
    // the degenerate bucket (2000 > maxBucket) is dropped entirely: no pair
    // references a clone id, and the pair count stays far below the ~2M blowup
    assert(capped.filter(col("id_a") >= 2000000L || col("id_b") >= 2000000L).count() == 0)
    assert(capped.count() < 10000)
    OpCaches.releaseAll()
  }

  test("cosine near-dup: auto signature width scales with corpus size") {
    assert(Similarity.bitsFor(1000) == 8)
    assert(Similarity.bitsFor(1000000) == 18)
    assert(Similarity.bitsFor(1000000000L) == 24) // clamped ceiling
    assert(Similarity.bitsFor(1) == 4)            // clamped floor
    // auto mode (bits=0) still finds planted identical twins
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val twins = emb.withColumn("vec_id", col("vec_id") + lit(offset))
    val pairs = Similarity.cosineNearDupPairs(emb.unionByName(twins),
      "vec_id", "embedding", dim = 64, threshold = 0.999)
      .filter(col("id_b") === col("id_a") + offset)
    assert(pairs.count() == emb.count())
    OpCaches.releaseAll()
  }

  test("OpCaches: operators register their persisted frames; release empties it") {
    OpCaches.releaseAll()
    val before = OpCaches.registeredCount
    assert(before == 0)
    Dedup.minhashNearDups(withTwins, "doc_id", "text").count()
    assert(OpCaches.registeredCount > 0)
    OpCaches.releaseAll()
    assert(OpCaches.registeredCount == 0)
  }

  test("LSH ANN recall: top result matches brute force") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0)
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", q, dim = 64, k = 5, bits = 6)
      .collect()
    assert(lsh.nonEmpty && lsh.head.getLong(0) == 3L)
  }

  test("multimodal decode: features are a normalized histogram; checksum matches md5") {
    val media = Multimodal.asMediaTable(docs.limit(10), "doc_id", "text")
    val feats = Multimodal.decodeFeatures(media).collect()
    assert(feats.length == 10)
    feats.foreach { r =>
      val f = r.getSeq[Float](3)
      assert(f.length == 16)
      assert(math.abs(f.sum - 1.0f) < 1e-3)
    }
    val metaChk = Multimodal.mediaStats(media).select("media_id", "checksum")
    val decodeChk = Multimodal.decodeFeatures(media).select("media_id", "checksum")
    assert(metaChk.except(decodeChk).count() == 0)
  }

  test("multimodal codec seam: a custom batch codec is honored across batch boundaries") {
    // codec that encodes (batch-local) determinism: first feature = payload
    // length — verifiable per row regardless of how rows were batched
    object LenCodec extends Multimodal.BatchCodec {
      override def decodeBatch(payloads: Array[Array[Byte]], dim: Int): Array[Array[Float]] =
        payloads.map { b =>
          val f = new Array[Float](dim); f(0) = b.length.toFloat; f
        }
    }
    // batchSize 7 forces uneven final batches per partition
    val media = Multimodal.asMediaTable(docs.limit(30), "doc_id", "text")
    val out = Multimodal.decodeFeatures(media, featureDim = 4,
      codec = LenCodec, batchSize = 7)
    assert(out.filter(try_element_at(col("features"), lit(1)) =!=
      col("n_bytes").cast("float")).count() == 0)
    assert(out.count() == 30)
  }

  test("ImageIoCodec: real PNG decode recovers exact dimensions and channel sums") {
    val media = Multimodal.synthImages(docs.limit(25).select("doc_id"), "doc_id")
    // payloads are genuine PNGs (magic bytes), not raw pixel dumps
    media.collect().foreach { r =>
      val b = r.getAs[Array[Byte]](1)
      assert((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
    }
    val out = Multimodal.decodeFeatures(media, featureDim = 5,
      codec = Multimodal.ImageIoCodec).collect()
    assert(out.length == 25)
    out.foreach { r =>
      val id = r.getLong(0)
      val f = r.getSeq[Float](3)
      val (w, h) = ((id % 7 + 2).toInt, (id % 5 + 2).toInt)
      val m = (id % 256).toInt
      def sum(ka: Int, kx: Int, ky: Int): Long =
        (for (y <- 0 until h; x <- 0 until w)
          yield ((ka * m + kx * x + ky * y) % 256).toLong).sum
      assert(f(0) == w.toFloat && f(1) == h.toFloat, s"id=$id dims ${f(0)}x${f(1)}")
      assert(f(2) == sum(3, 5, 7).toFloat, s"id=$id r_sum ${f(2)}")
      assert(f(3) == sum(11, 13, 17).toFloat, s"id=$id g_sum ${f(3)}")
      assert(f(4) == sum(19, 23, 29).toFloat, s"id=$id b_sum ${f(4)}")
    }
    // luminance histogram (dim > 5): counts over the remaining buckets
    // total exactly w*h pixels
    val hist = Multimodal.decodeFeatures(media, featureDim = 13,
      codec = Multimodal.ImageIoCodec).collect()
    hist.foreach { r =>
      val f = r.getSeq[Float](3)
      assert(f.drop(5).sum == f(0) * f(1), s"histogram mass ${f.drop(5).sum}")
    }
  }

  test("ImageIoCodec: non-image payloads fall back to the stub byte histogram") {
    val media = Multimodal.asMediaTable(docs.limit(10), "doc_id", "text")
    val viaImage = Multimodal.decodeFeatures(media, featureDim = 16,
      codec = Multimodal.ImageIoCodec).select("media_id", "features")
    val viaStub = Multimodal.decodeFeatures(media, featureDim = 16,
      codec = Multimodal.StubCodec).select("media_id", "features")
    assert(viaImage.except(viaStub).count() == 0)
  }

  test("ImageIoCodec: corrupt payloads with real image magic degrade to the stub, never throw") {
    // valid magic bytes make the matching JDK reader CLAIM the payload,
    // then choke on the garbage body — the crafted-blob shape that must
    // fall back per-payload (one bad crawled file must not kill the job)
    val junk = Array.tabulate(64)(i => (i * 37 + 11).toByte)
    val payloads: Array[Array[Byte]] = Array(
      Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte) ++ junk, // full 8-byte PNG magic
      Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte) ++ junk, // JPEG SOI
      "GIF89a".getBytes("ISO-8859-1") ++ junk, // GIF header
      "BM".getBytes("ISO-8859-1") ++ junk, // BMP header
      Array[Byte]()) // empty payload
    val out = Multimodal.ImageIoCodec.decodeBatch(payloads, dim = 16)
    val stub = Multimodal.StubCodec.decodeBatch(payloads, dim = 16)
    assert(out.length == payloads.length)
    out.zip(stub).zipWithIndex.foreach { case ((o, s), i) =>
      assert(o.sameElements(s), s"payload $i did not fall back to the stub")
    }
  }

  test("WavCodec: real WAV decode recovers exact rate/channels/frames/sums") {
    val media = Multimodal.synthAudio(docs.limit(25).select("doc_id"), "doc_id")
    // payloads are genuine RIFF/WAVE containers, not raw sample dumps
    media.collect().foreach { r =>
      val b = r.getAs[Array[Byte]](1)
      assert(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E',
        "not a RIFF/WAVE container")
    }
    val rates = Array(8000L, 11025L, 16000L, 22050L)
    val out = Multimodal.decodeFeatures(media, featureDim = 5,
      codec = Multimodal.WavCodec).collect()
    assert(out.length == 25)
    out.foreach { r =>
      val id = r.getLong(0)
      val f = r.getSeq[Float](3)
      val channels = (id % 2 + 1).toInt
      val n = (id % 50 + 20).toInt
      val m = (id % 256).toInt
      def sum(ch: Int): Long =
        (0 until n).map(i => ((7 * m + 13 * i + 31 * ch) % 201 - 100).toLong).sum
      assert(f(0) == rates((id % 4).toInt).toFloat, s"id=$id rate ${f(0)}")
      assert(f(1) == channels.toFloat && f(2) == n.toFloat,
        s"id=$id shape ${f(1)}x${f(2)}")
      assert(f(3) == sum(0).toFloat, s"id=$id ch0_sum ${f(3)}")
      assert(f(4) == (if (channels == 2) sum(1).toFloat else 0f),
        s"id=$id ch1_sum ${f(4)}")
    }
    // amplitude histogram (dim > 5): counts over the remaining buckets
    // total exactly frames*channels samples
    val hist = Multimodal.decodeFeatures(media, featureDim = 13,
      codec = Multimodal.WavCodec).collect()
    hist.foreach { r =>
      val f = r.getSeq[Float](3)
      assert(f.drop(5).sum == f(1) * f(2), s"histogram mass ${f.drop(5).sum}")
    }
  }

  test("WavCodec: non-audio and corrupt-RIFF payloads degrade to the stub, never throw") {
    val junk = Array.tabulate(64)(i => (i * 37 + 11).toByte)
    val payloads: Array[Array[Byte]] = Array(
      // full RIFF/WAVE magic with a garbage body — the reader claims it,
      // then must choke per-payload, not kill the task
      ("RIFF    WAVE".getBytes("ISO-8859-1") ++ junk),
      "plain text, no container".getBytes("UTF-8"),
      Array[Byte]())
    val out = Multimodal.WavCodec.decodeBatch(payloads, dim = 16)
    val stub = Multimodal.StubCodec.decodeBatch(payloads, dim = 16)
    out.zip(stub).zipWithIndex.foreach { case ((o, s), i) =>
      assert(o.sameElements(s), s"payload $i did not fall back to the stub")
    }
  }

  test("JdkCodec: mixed media table dispatches per payload (stub = video-only fallback)") {
    val ids = docs.limit(10).select("doc_id")
    val images = Multimodal.synthImages(ids, "doc_id")
    val audio = Multimodal.synthAudio(
      ids.select((col("doc_id") + 1000000L).as("doc_id")), "doc_id")
    val other = Multimodal.asMediaTable(
      docs.limit(10).select((col("doc_id") + 2000000L).as("doc_id"), col("text")),
      "doc_id", "text", mediaType = "video")
    val mixed = images.unionByName(audio).unionByName(other)
    val viaJdk = Multimodal.decodeFeatures(mixed, featureDim = 8,
      codec = Multimodal.JdkCodec).select("media_id", "features")
    val expected = Multimodal.decodeFeatures(images, featureDim = 8,
        codec = Multimodal.ImageIoCodec)
      .unionByName(Multimodal.decodeFeatures(audio, featureDim = 8,
        codec = Multimodal.WavCodec))
      .unionByName(Multimodal.decodeFeatures(other, featureDim = 8,
        codec = Multimodal.StubCodec))
      .select("media_id", "features")
    assert(viaJdk.except(expected).count() == 0 &&
      expected.except(viaJdk).count() == 0)
  }

  test("multimodal metadata queries prune the payload from the parquet scan") {
    val media = Multimodal.asMediaTable(docs.limit(50), "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toString
    media.write.mode("overwrite").parquet(dir)
    // metadata-only projection: the binary payload column (the bulk of the
    // bytes at 100 TB) must not be read — columnar pruning is the whole
    // point of carrying media as (payload, meta) instead of opaque rows
    val metaOnly = spark.read.parquet(dir).select(col("media_id"), col("meta.media_type"))
    val plan = metaOnly.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("payload"), readSchema)
    assert(readSchema.contains("media_id"), readSchema)
    assert(metaOnly.count() == 50)
  }

  test("connected components merge chains; losers keep one doc per component") {
    import spark.implicits._
    // chain 1—2—3 (transitive) + isolated pair 10—11 + star 20—{21,22}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // keep-one-per-component: naive per-pair id_b dropping would keep only
    // {1, 10, 20} too here, but on chain A—B, B—C with A≁C it deletes C
    // even though C's only witness B is itself deleted; CC never does
    val losers = Dedup.nearDupLosers(pairs).as[Long].collect().toSet
    assert(losers == Set(2L, 3L, 11L, 21L, 22L))
    OpCaches.releaseAll()
  }

  test("connected components: empty input and non-convergence guard") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).isEmpty)
    assert(Dedup.nearDupLosers(empty).isEmpty)
    // a 12-node path has diameter 11: label propagation's default 10
    // rounds MUST refuse (silently-wrong labels otherwise); the default
    // star algorithm's rounds don't scale with diameter and converge
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException](Dedup.connectedComponentsLabelProp(chain))
    val cc = Dedup.connectedComponents(chain)
    assert(cc.filter(col("component") =!= 1L).count() == 0)
    assert(cc.count() == 12)
    // both formulations agree once label-prop gets enough rounds
    val viaProp = Dedup.connectedComponentsLabelProp(chain, maxIter = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaStar = cc.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaProp == viaStar)
    OpCaches.releaseAll()
  }

  test("alternating-star CC: 1000-node path converges in bounded rounds, matches label-prop on a dense graph") {
    import spark.implicits._
    // a path is label propagation's worst case: rounds = diameter = 999.
    // The alternating-star rounds grow with log²(n) instead — the default
    // budget (15) is plenty, and the guard proves label-prop really can't
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException](
      Dedup.connectedComponentsLabelProp(chain, maxIter = 25))
    val star = Dedup.connectedComponentsStar(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(star.length == 1000 && star.forall(_._2 == 0L))
    // cross-check semantics on a dense random graph (small diameter, so
    // label-prop is ground truth there)
    val rnd = (1 to 400)
      .map(i => ((i * 2654435761L) % 211, (i * 48271L) % 211))
      .filter { case (a, b) => a != b }
      .toDF("id_a", "id_b")
    val viaStar = Dedup.connectedComponentsStar(rnd)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaProp = Dedup.connectedComponentsLabelProp(rnd, maxIter = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaStar == viaProp)
    OpCaches.releaseAll()
  }

  test("CC local contraction: per-partition stars, node set and labels preserved") {
    import spark.implicits._
    // 64-node chain, oriented u > v, scattered round-robin over 8 slices
    // so every partition sees a NON-contiguous edge subset — the
    // adversarial layout for a partition-local pass: connectivity across
    // slices survives only through shared node ids
    val oriented = (0L until 63L).map(i => (i + 1, i))
      .toDF("u", "v").repartition(8)
    val contracted = Dedup.ccLocalContract(oriented)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // never more edges than input; child > parent orientation kept;
    // exactly one out-edge per non-root node (stars, not trees)
    assert(contracted.length <= 63)
    assert(contracted.forall { case (u, v) => u > v })
    assert(contracted.map(_._1).distinct.length == contracted.length)
    // node set preserved: every one of the 64 chain nodes still appears
    val nodes = (contracted.map(_._1) ++ contracted.map(_._2)).toSet
    assert(nodes == (0L to 63L).toSet)
    // end-to-end: the star loop (which now contracts on long ids) labels
    // the multi-partition chain identically to the label-prop reference
    val pairs = (0L until 63L).map(i => (i, i + 1))
      .toDF("id_a", "id_b").repartition(8)
    val viaStar = Dedup.connectedComponentsStar(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaStar == (0L to 63L).map(i => i -> 0L).toMap)
    val viaProp = Dedup.connectedComponentsLabelProp(pairs, maxIter = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaStar == viaProp)
    OpCaches.releaseAll()
  }

  test("fixed-point centroid is independent of partition layout") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = Similarity.groupCentroidFixedPoint(emb, "label", "embedding", dims = 4)
    val b = Similarity.groupCentroidFixedPoint(emb.repartition(13), "label", "embedding", dims = 4)
    // integer accumulation ⇒ bit-identical under any merge order — the
    // determinism double summation cannot provide
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    assert(a.count() == emb.select("label").distinct().count() * 4)
  }

  test("corpus stats: token-profile invariants and document-frequency bounds") {
    val prof = CorpusStats.tokenProfile(docs, "doc_id", "text")
    assert(prof.count() == docs.count()) // exactly one profile row per doc
    assert(prof.filter(col("n_distinct") > col("n_tokens") ||
      col("top_count") > col("n_tokens") || col("n_tokens") < 1).count() == 0)
    val dfreq = CorpusStats.documentFrequency(docs, "doc_id", "text")
    val n = docs.count()
    assert(dfreq.filter(col("df") > n || col("df") < 1).count() == 0)
    // Σ df over tokens == distinct (doc, token) pairs == Σ n_distinct
    val sumDf = dfreq.agg(sum("df")).head().getLong(0)
    val sumDistinct = prof.agg(sum("n_distinct")).head().getLong(0)
    assert(sumDf == sumDistinct)
    // a token planted in EVERY doc has df == corpus size
    val planted = docs.withColumn("text", concat(col("text"), lit(" everydoc")))
    val dfAll = CorpusStats.documentFrequency(planted, "doc_id", "text")
      .filter(col("tok") === "everydoc").head().getLong(1)
    assert(dfAll == n)
  }

  test("contamination: every eval doc is flagged against itself") {
    val evalSet = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
    val pairs = Dedup.contaminationPairs(docs, "doc_id", evalSet, "doc_id", "text")
    val self = pairs.filter(col("train_id") === col("eval_id"))
    assert(self.count() == evalSet.count()) // identical text shares every shingle
    // and a disjoint-text eval set flags nothing at the threshold
    assert(pairs.filter(col("n_shared") < 5).count() == 0)
  }

  test("deterministic shard: bijective hash, stable assignment, all shards used") {
    val a = Sampling.deterministicShard(docs, "doc_id", 8).select("doc_id", "shard")
    val b = Sampling.deterministicShard(docs, "doc_id", 8).select("doc_id", "shard")
    assert(a.except(b).count() == 0) // reproducible across plans
    assert(a.count() == docs.count())
    assert(a.select("shard").distinct().count() == 8)
    // distinct ids never collide on the shuffle key (invertible affine map)
    val keys = Sampling.deterministicShard(docs, "doc_id", 8).select("shuffle_key")
    assert(keys.distinct().count() == docs.count())
  }

  test("stratified sample: fraction 1.0 keeps a stratum whole, absent strata drop") {
    val s1 = Sampling.stratified(docs, "lang", Map("en" -> 1.0))
    assert(s1.select("lang").distinct().count() == 1)
    assert(s1.count() == docs.filter(col("lang") === "en").count())
  }

  test("multimodal resize + frame sampling: shapes and byte accounting") {
    val media = Multimodal.asMediaTable(docs.limit(20), "doc_id", "text", mediaType = "video")
    val resized = Multimodal.resize(media, w = 8, h = 8).collect()
    assert(resized.length == 20)
    resized.foreach { r =>
      assert(r.getAs[Array[Byte]](1).length == 64) // fixed w*h payload
      val meta = r.getStruct(2)
      assert(meta.getInt(2) == 8 && meta.getInt(3) == 8) // width/height stamped
    }
    val frames = Multimodal.frameSample(media, frameBytes = 64, stride = 2)
    // every sampled frame is 1..64 bytes and their total never exceeds the payload
    assert(frames.filter(col("frame_bytes") < 1 || col("frame_bytes") > 64).count() == 0)
    val perDoc = frames.groupBy("media_id")
      .agg(sum("frame_bytes").as("sampled"), max("n_frames").as("nf"))
      .join(Multimodal.mediaStats(media), Seq("media_id"))
    assert(perDoc.filter(col("sampled") > col("n_bytes")).count() == 0)
    assert(perDoc.filter(col("nf") =!= ceil(col("n_bytes") / 64.0)).count() == 0)
  }

  test("imageFrames: every animated-GIF frame decodes to the exact synth grid") {
    for (id <- Seq(0L, 1L, 5L, 17L, 123L, 254L)) {
      val nf = (id % 6 + 2).toInt
      val w = (id % 5 + 2).toInt
      val h = (id % 4 + 2).toInt
      val m = (id % 256).toInt
      val frames = Multimodal.imageFrames(Multimodal.synthGif(id))
      assert(frames.isDefined, s"id=$id: GIF not decoded")
      assert(frames.get.length == nf, s"id=$id: ${frames.get.length} != $nf frames")
      frames.get.zipWithIndex.foreach { case ((fw, fh, sum), f) =>
        assert(fw == w && fh == h, s"id=$id frame $f: ${fw}x$fh != ${w}x$h")
        val expected = (for (y <- 0 until h; x <- 0 until w)
          yield ((3 * m + 5 * x + 7 * y + 11 * f) % 256).toLong).sum
        assert(sum == expected, s"id=$id frame $f: sum $sum != $expected")
      }
    }
    // a single-frame PNG is one real frame with the synthPng sums
    val png = Multimodal.imageFrames(Multimodal.synthPng(9L))
    assert(png.isDefined && png.get.length == 1)
    // junk bytes: no reader claims them -> None (stub fallback)
    assert(Multimodal.imageFrames(Array.fill(40)(7.toByte)).isEmpty)
    // truncated animation: the intact frame prefix survives, no throw
    val whole = Multimodal.synthGif(4L) // 6 frames
    val truncated = Multimodal.imageFrames(whole.take(whole.length * 2 / 3))
    assert(truncated.forall(_.length < 6))
  }

  test("frameSampleReal: real GIF rows + stub byte-stride rows in one pass") {
    val spark2 = spark
    import spark2.implicits._
    val media = Multimodal.synthFrameMedia(
      (0L until 40L).toDF("doc_id"), "doc_id")
    val out = Multimodal.frameSampleReal(media, frameBytes = 4, stride = 2)
    val real = out.filter(col("real_decode"))
    val stub = out.filter(!col("real_decode"))
    // even ids real, odd ids stub
    assert(real.filter(pmod(col("media_id"), lit(2L)) =!= 0L).count() == 0)
    assert(stub.filter(pmod(col("media_id"), lit(2L)) =!= 1L).count() == 0)
    // real rows: n_frames = (id%6)+2, sampled idx 0,2,... with true dims
    assert(real.filter(col("n_frames") =!=
      pmod(col("media_id"), lit(6L)) + 2L).count() == 0)
    assert(real.filter(col("frame_w") =!=
      (pmod(col("media_id"), lit(5L)) + 2L).cast("int")).count() == 0)
    assert(real.filter(col("frame_bytes").isNotNull).count() == 0)
    // stub rows: the q59 byte-stride arithmetic, no pixel columns
    assert(stub.filter(col("pix_sum").isNotNull).count() == 0)
    assert(stub.filter(col("frame_bytes") < 1 || col("frame_bytes") > 4).count() == 0)
    assert(stub.filter(col("n_frames") =!=
      ceil((pmod(col("media_id"), lit(17L)) + 3L) / 4.0).cast("long")).count() == 0)
  }

  test("synth media tables: media_id + offset, the renderer's bytes, its meta") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.types._
    val ids = (0L until 64L).toDF("doc_id")
    def junk(id: Long) = Array.fill((Math.floorMod(id, 17L) + 3L).toInt)(
      (Math.floorMod(id, 199L) + 1L).toByte)
    val (png, wav, gif, bin) =
      (("image", "png"), ("audio", "wav"), ("image", "gif"), ("video", "bin"))
    val M = Multimodal
    val cases = Seq[(String, org.apache.spark.sql.DataFrame, Long,
        Long => (Array[Byte], (String, String)))](
      ("synthImages", M.synthImages(ids, "doc_id"), 0L, id => (M.synthPng(id), png)),
      ("synthImagesShifted", M.synthImagesShifted(ids, "doc_id", 15, 1000L), 1000L,
        id => (M.synthPngShifted(id, 15), png)),
      ("synthImagesShiftedBumped", M.synthImagesShiftedBumped(ids, "doc_id", 20, 30, 2000L),
        2000L, id => (M.synthPngShiftedBumped(id, 20, 30), png)),
      ("synthAudio", M.synthAudio(ids, "doc_id"), 0L, id => (M.synthWav(id), wav)),
      ("synthAudioSigned", M.synthAudioSigned(ids, "doc_id", -1, 3000L), 3000L,
        id => (M.synthWavSigned(id, -1), wav)),
      ("synthAudioBumped", M.synthAudioBumped(ids, "doc_id", 7, 4000L), 4000L,
        id => (M.synthWavBumped(id, 7), wav)),
      ("synthGifsShifted", M.synthGifsShifted(ids, "doc_id", 15, 5000L), 5000L,
        id => (M.synthGifShifted(id, 15), gif)),
      ("synthGifsShiftedBumped", M.synthGifsShiftedBumped(ids, "doc_id", 20, 30, 6000L),
        6000L, id => (M.synthGifShiftedBumped(id, 20, 30), gif)),
      ("synthMixed", M.synthMixed(ids, "doc_id"), 0L, id => Math.floorMod(id, 3L) match {
        case 0L => (M.synthPng(id), png)
        case 1L => (M.synthWav(id), wav)
        case _ => (junk(id), bin)
      }),
      ("synthFrameMedia", M.synthFrameMedia(ids, "doc_id"), 0L, id =>
        if (Math.floorMod(id, 2L) == 0L) (M.synthGif(id), gif) else (junk(id), bin)))
    val schema = StructType(Seq(StructField("media_id", LongType),
      StructField("payload", BinaryType), StructField("meta", M.mediaMetaSchema)))
    for ((name, table, offset, render) <- cases) {
      assert(table.schema == schema, name)
      val got = table.collect().map(r =>
        (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getStruct(2).toSeq)).sortBy(_._1).toSeq
      val want = (0L until 64L).map { id =>
        val (bytes, (mediaType, format)) = render(id)
        (id + offset, bytes.toSeq, Seq(mediaType, format, null, null, null))
      }
      assert(got == want, name)
    }
  }

  test("hammingNearDupPairs: pigeonhole recall law, exact verify, loud bucket guard") {
    val spark2 = spark
    import spark2.implicits._
    val base = 0x123456789ABCDL // arbitrary 63-bit-safe hash
    def flip(h: Long, bits: Int*): Long = bits.foldLeft(h)((a, b) => a ^ (1L << b))
    val rows = Seq(
      (1L, base),
      (2L, flip(base, 5)),          // hamming 1
      (3L, flip(base, 0, 20, 40)),  // hamming 3 — at the threshold
      (4L, flip(base, 1, 2, 3, 4)), // hamming 4 — must NOT pair with 1
      (5L, ~base & ((1L << 63) - 1))) // far away
    val pairs = Dedup.hammingNearDupPairs(rows.toDF("id", "h"), "id", "h",
        bits = 63, bands = 7, maxDist = 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    // every pair within maxDist found (zero recall loss), none beyond
    assert(pairs.contains((1L, 2L, 1)), pairs)
    assert(pairs.contains((1L, 3L, 3)), pairs)
    assert(pairs.contains((2L, 3L, 4)) == false, pairs)
    assert(!pairs.exists(p => p._1 == 1L && p._2 == 4L), pairs)
    assert(!pairs.exists(p => p._2 == 5L || p._1 == 5L), pairs)
    // exhaustive recall check: random-ish hashes, ground truth by brute force
    val many = (0L until 200L).map(i => (i, (i * 0x9E3779B97F4AL) & ((1L << 63) - 1)))
    val found = Dedup.hammingNearDupPairs(many.toDF("id", "h"), "id", "h",
        bits = 63, bands = 7, maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val truth = (for {
      (ia, ha) <- many; (ib, hb) <- many if ia < ib
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    assert(found == truth, s"found=$found truth=$truth")
    // bands must exceed maxDist, and over-full buckets fail loudly
    intercept[IllegalArgumentException](
      Dedup.hammingNearDupPairs(rows.toDF("id", "h"), "id", "h",
        bands = 3, maxDist = 3))
    // the bucket guard rides the plan (r15: raise_error filter, no
    // eager per-call job) — it fires at the first action
    val clones = (0L until 50L).map(i => (i, 42L))
    val e = intercept[Exception](
      Dedup.hammingNearDupPairs(clones.toDF("id", "h"), "id", "h",
        maxBucket = 10).count())
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      .mkString(" | ")
    assert(chain.contains("maxBucket"))
    OpCaches.releaseAll()
  }

  test("hammingNearDupPairs: bits=15 at the DEFAULT bands=7 — no degenerate bands (ADVICE r13 #1)") {
    val spark2 = spark
    import spark2.implicits._
    // the r13 ceil-width split gave bands 5-6 width 0 here: every row
    // collided in one universal bucket, so all-distinct inputs either
    // tripped the maxBucket guard spuriously or degraded to all-pairs.
    // Even widths (3 + 2·6) must band discriminatively: distant hashes
    // never pair, close ones always do (pigeonhole), and a big
    // all-distinct table sails through a TIGHT maxBucket.
    val many = (0L until 600L).map(i => (i, (i * 2654435761L) & 0x7FFFL))
    val found = Dedup.hammingNearDupPairs(many.toDF("id", "h"), "id", "h",
        bits = 15, bands = 7, maxDist = 2, maxBucket = 1 << 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val truth = (for {
      (ia, ha) <- many; (ib, hb) <- many if ia < ib
      if java.lang.Long.bitCount(ha ^ hb) <= 2
    } yield (ia, ib)).toSet
    assert(found == truth, s"found=${found.size} truth=${truth.size}")
    // width arithmetic: every band non-empty, widths differ by <= 1,
    // total == bits — for EVERY legal (bits, bands) combination
    for (bits <- 1 to 63; bands <- 1 to bits) {
      val base = bits / bands
      val rem = bits % bands
      val widths = (0 until bands).map(b => base + (if (b < rem) 1 else 0))
      assert(widths.sum == bits && widths.forall(_ >= 1),
        s"bits=$bits bands=$bands widths=$widths")
    }
    OpCaches.releaseAll()
  }

  test("image dHash: brightness-invariant on real decodes, banded join finds the twins") {
    val spark2 = spark
    import spark2.implicits._
    val ids = (0L until 30L).toDF("doc_id")
    val orig = Multimodal.synthImagesShifted(ids, "doc_id", delta = 0)
    val twin = Multimodal.synthImagesShifted(ids, "doc_id", delta = 20,
      idOffset = 1000L)
    val hashes = Multimodal.withImageDHash(orig.unionByName(twin))
    // non-decodable payloads hash to null (and are excluded by the join)
    val junk = Multimodal.withImageDHash(
      Seq((9999L, Array.fill[Byte](16)(3), null: String))
        .toDF("media_id", "payload", "x").drop("x"))
    assert(junk.filter(col("dhash").isNotNull).count() == 0)
    // every (orig, twin) pair is found at hamming 0 by the banded join
    val pairs = Dedup.hammingNearDupPairs(hashes, "media_id", "dhash",
      maxDist = 0)
    val matched = pairs
      .filter(col("id_b") === col("id_a") + 1000L && col("hamming") === 0)
      .count()
    assert(matched == 30L, s"only $matched of 30 twins matched")
    OpCaches.releaseAll()
  }

  test("audio pHash: polarity-invariant on real PCM decodes, hamming join finds the twins") {
    val spark2 = spark
    import spark2.implicits._
    // direct invariance on the byte level: inverted payload differs,
    // fingerprint identical
    for (id <- Seq(0L, 1L, 7L, 49L, 123L)) {
      val a = Multimodal.synthWavSigned(id, 1)
      val b = Multimodal.synthWavSigned(id, -1)
      assert(!java.util.Arrays.equals(a, b), s"id=$id payloads equal")
      assert(Multimodal.audioPHash15(a) == Multimodal.audioPHash15(b), s"id=$id")
      assert(Multimodal.audioPHash15(a).isDefined)
    }
    // junk bytes -> null hash
    assert(Multimodal.audioPHash15(Array.fill(64)(9.toByte)).isEmpty)
    // table-level: every polarity pair found at hamming 0, bits=15
    val ids = (0L until 25L).toDF("doc_id")
    val hashes = Multimodal.withAudioPHash(
      Multimodal.synthAudioSigned(ids, "doc_id", 1).unionByName(
        Multimodal.synthAudioSigned(ids, "doc_id", -1, idOffset = 1000L)))
    val pairs = Dedup.hammingNearDupPairs(hashes, "media_id", "ahash",
      bits = 15, bands = 4, maxDist = 0, maxBucket = 1 << 20)
    assert(pairs.filter(col("id_b") === col("id_a") + 1000L).count() == 25L)
    OpCaches.releaseAll()
  }

  test("video sequence fingerprint: brightness-invariant per frame, trims change it, banded join finds twins") {
    val spark2 = spark
    import spark2.implicits._
    // byte-level invariance: the shifted render is a different payload
    // with an identical sequence fingerprint (per-frame dHash monotone
    // invariance along the time axis)
    for (id <- Seq(0L, 3L, 17L, 59L)) {
      val a = Multimodal.synthGifShifted(id, 0)
      val b = Multimodal.synthGifShifted(id, 15)
      assert(!java.util.Arrays.equals(a, b), s"id=$id payloads equal")
      assert(Multimodal.videoSeqHash(a) == Multimodal.videoSeqHash(b), s"id=$id")
      assert(Multimodal.videoSeqHash(a).isDefined)
      // frame count matches the construction; single-image dHash only
      // sees frame 0 (the gap this fingerprint closes)
      assert(Multimodal.videoSeqHash(a).get._1 == (id % 6 + 2).toInt)
    }
    // a TRIMMED copy (same per-frame pixels, fewer frames) changes the
    // fingerprint: id=4 renders 6 frames, id=28 renders 4 frames with
    // DIFFERENT content — craft the trim by re-encoding id=4's first
    // 2 frames through the same writer arithmetic is not possible via
    // ids, so assert on the anchors directly: equal first-frame hash
    // requires equal n_frames for a sequence match
    val h6 = Multimodal.videoSeqHash(Multimodal.synthGifShifted(4L, 0)).get
    assert(h6._1 == 6)
    // junk bytes -> None (no reader claims them)
    assert(Multimodal.videoSeqHash(Array.fill(32)(9.toByte)).isEmpty)
    // table level: every (orig, +15 twin) pair found by the banded
    // sequence join at distance 0; nothing pairs across different ids
    // (distinct ids render distinct animations)
    val ids = (0L until 30L).toDF("doc_id")
    val media = Multimodal.synthGifsShifted(ids, "doc_id", delta = 0)
      .unionByName(Multimodal.synthGifsShifted(ids, "doc_id", delta = 15,
        idOffset = 1000L))
    val pairs = Multimodal.videoSeqNearDups(media, maxDist = 3)
      .select("id_a", "id_b", "d_first", "d_mid", "d_last")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getInt(3), r.getInt(4)))
    val twinPairs = pairs.filter(p => p._2 == p._1 + 1000L).toSeq
    assert(twinPairs.size == 30, s"${twinPairs.size} of 30 twins matched")
    assert(twinPairs.forall(p => p._3 == 0 && p._4 == 0 && p._5 == 0))
    // cross-id pairs may band-collide on sparse tiny-grid hashes but
    // must still pass the full three-anchor + frame-count verify —
    // assert the verify is real: no pair with unequal frame counts
    val hs = Multimodal.withVideoSeqHash(media)
      .select(col("media_id"), col("n_frames")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pairs.forall(p => hs(p._1) == hs(p._2)), "unequal-length pair leaked")
    OpCaches.releaseAll()
  }

  test("curation recipe with near-dup removal drops planted twins") {
    val allGuesses = Seq("en", "de", "fr", "es", "und")
    val curated = Curation.curate(withTwins, "doc_id", "text",
      allowedLangs = allGuesses, minQuality = 0, nearDup = true)
    val n = docs.count()
    // pass-through filters keep everything; near-dup removal then drops the
    // larger id of each detected pair — ≥95% of the planted twins vanish
    val survivingTwins = curated.filter(col("doc_id") >= offset).count()
    assert(survivingTwins <= n / 20, s"$survivingTwins twins survived")
    // originals survive except those that are themselves natural near-dups
    // of a lower id (the recipe is SUPPOSED to drop those too)
    val survivingOriginals = curated.filter(col("doc_id") < offset).count()
    assert(survivingOriginals >= (n * 9) / 10, s"only $survivingOriginals originals")
    OpCaches.releaseAll()
  }

  test("text metrics: deterministic and in range") {
    val m = docs.select(
      TextOps.tokenCount(col("text")).as("tc"),
      TextOps.qualityScore(col("text")).as("q"),
      TextOps.langGuess(col("text")).as("lang"))
    assert(m.filter(col("tc") <= 0).count() == 0)
    assert(m.filter(col("q") < 0 || col("q") > 100).count() == 0)
    assert(m.filter(!col("lang").isin("en", "de", "fr", "es", "und")).count() == 0)
  }

  test("punctCount translate form == \\p{Punct} regex form (all 32 chars + corpus)") {
    import spark.implicits._
    // the translate swap removes the java-regex replace from the quality
    // path; \p{Punct} (no UNICODE flag) is exactly ASCII 0x21-0x2F,
    // 0x3A-0x40, 0x5B-0x60, 0x7B-0x7E — pin char-for-char equality
    def regexForm(c: org.apache.spark.sql.Column) =
      length(c) - length(regexp_replace(c, "\\p{Punct}", ""))
    val allPunct = (0x21 to 0x7e).map(_.toChar).filter(!_.isLetterOrDigit)
      .mkString
    val fixtures = Seq(allPunct, "plain words only", "", "a.b,c!d",
      "unicode punct: ¿—。 stays uncounted", "  spaced . out  ")
      .toDF("t")
      .select(TextOps.punctCount(col("t")).as("fast"),
        regexForm(col("t")).as("slow"))
    assert(fixtures.filter(col("fast") =!= col("slow")).count() == 0)
    val corpus = docs.select(TextOps.punctCount(col("text")).as("fast"),
      regexForm(col("text")).as("slow"))
    assert(corpus.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("winnowing: substring-match guarantee, density bound, short-doc degrade") {
    import spark.implicits._
    val k = 5
    val w = 8
    // two docs sharing a substring of exactly w + k − 1 = 12 chars,
    // surrounded by disjoint content → MUST share a fingerprint
    val shared = "abcdefghijkl"
    val df = Seq(
      (1L, s"xxxx1 yyyy1 zzzz1 $shared qqqq1 rrrr1"),
      (2L, s"mmmm2 nnnn2 $shared oooo2 pppp2 ssss2"),
      (3L, "totally unrelated content with nothing in common at all"),
      (4L, "abc")). // shorter than k: one whole-text fingerprint
      toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
        TextOps.winnow(col("text"), k, w).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty,
      "winnowing guarantee violated: shared 12-char substring, no shared fp")
    assert(fps(3L).toSet.intersect(fps(1L).toSet).isEmpty)
    assert(fps(4L).size == 1)
    // density: far fewer selected fps than k-grams (~2/(w+1) of them),
    // sorted distinct
    val text1Len = df.filter(col("doc_id") === 1).head().getString(1).length
    assert(fps(1L).size < text1Len - k + 1)
    assert(fps(1L) == fps(1L).distinct.sorted)
    // determinism
    val again = df.select(col("doc_id"),
        TextOps.winnow(col("text"), k, w).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(again == fps)
  }

  test("native winnow == HOF winnow, including non-ASCII and whitespace edges") {
    import spark.implicits._
    graft.functions.NativeFunctions.register(spark)
    // real corpus texts + adversarial strings: multi-byte code points
    // (the HOF hashes ascii() = first CODE POINT per char), emoji
    // (supplementary plane), tab/newline (Spark trim strips spaces
    // only), leading/trailing spaces, repeats, shorter-than-k,
    // k ≤ len < k+w (fewer grams than windows), empty, all-spaces
    val adversarial = Seq(
      "héllo wörld — naïve café", "emoji 😀 in the middle",
      "\ttabbed\tand\nnewlined\t", "   padded with spaces   ",
      "aaaaaaaaaaaaaaaaaaaaa", "abc", "abcdefgh", "", "     ",
      "the quick brown fox jumps over the lazy dog")
      .zipWithIndex.map { case (t, i) => (1000L + i, t) }
    val corpus = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val df = (corpus ++ adversarial).toDF("doc_id", "text")
    for ((k, w) <- Seq((5, 8), (3, 4), (2, 2))) {
      val diff = df.select(
          graft.ops.TextOps.winnow(col("text"), k, w).as("hof"),
          graft.functions.NativeFunctions.graft_winnow(col("text"), k, w)
            .as("native"))
        .filter(col("hof") =!= col("native"))
      assert(diff.count() == 0, s"native != HOF for k=$k w=$w")
    }
    // analysis-time guards: non-string input, non-foldable k
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.NativeFunctions
        .graft_winnow(col("doc_id"), 5, 8)).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(org.apache.spark.sql.functions.call_function(
        "graft_winnow", col("text"), col("doc_id"),
        org.apache.spark.sql.functions.lit(8))).collect()
    }
  }

  test("embedQualityFilter: seed vectors pass their own filter, model is literal") {
    import spark.implicits._
    // seed cluster near e1, noise near −e1: threshold separates exactly
    val dim = 4
    def v(base: Double, j: Long): Seq[Float] =
      Seq(base.toFloat, (j % 3).toFloat / 10f, ((j + 1) % 3).toFloat / 10f, 0.1f)
    val rows = (0L until 20L).map(i => (i, v(1.0, i), "seed")) ++
      (20L until 40L).map(i => (i, v(-1.0, i), "noise"))
    val df = rows.toDF("vec_id", "embedding", "kind")
    val kept = Similarity.embedQualityFilter(df, "vec_id", "embedding",
        df.filter(col("kind") === "seed"), dims = dim, minCosine = 0.5)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == (0L until 20L).toSet, kept)
    // scoring plan is map-only: no exchange (model collected beforehand)
    val plan = Similarity.embedQualityFilter(df, "vec_id", "embedding",
        df.filter(col("kind") === "seed"), dims = dim, minCosine = 0.5)
      .queryExecution.executedPlan
    def nodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p.children ++ p.subqueries).flatMap(nodes)
    assert(!nodes(plan).map(_.nodeName).exists(_.contains("Exchange")))
  }

  test("winnow contamination: every planted mid-doc passage hits its source") {
    graft.functions.NativeFunctions.register(spark)
    val train = docs.select(col("doc_id"), col("text"))
      .filter(size(TextOps.tokens(col("text"))) >= 24)
    // eval passages: 20 tokens cut from the MIDDLE of every 10th doc —
    // the shingle-boundary shape word-level detectors miss
    val evalDf = train.filter(pmod(col("doc_id"), lit(10L)) === 0L)
      .select(col("doc_id").as("eval_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 5, 20)).as("text"))
    val hits = Dedup.winnowContaminationPairs(
      train, "doc_id", evalDf, "eval_id", "text", minShared = 3L)
    val nEval = evalDf.count()
    val selfHits = hits.filter(col("train_id") === col("eval_id")).count()
    assert(nEval > 0)
    // winnowing guarantee: the contained passage shares fingerprints
    // with its source (≥3 at this passage length)
    assert(selfHits == nEval, s"$selfHits of $nEval passages found")
    // word-shingle contrast on the SAME passages: boundary shingles only —
    // the substring detector must not be weaker than the word detector
    val wordHits = Dedup.contaminationPairs(train, "doc_id", evalDf,
      "eval_id", "text", minShared = 3L)
      .filter(col("train_id") === col("eval_id")).count()
    assert(selfHits >= wordHits)
  }

  test("timeDecaySample: schedule exact, deterministic, subset-stable") {
    import spark.implicits._
    val dayNs = 86400L * 1000000000L
    // 4 days × 1000 events (ids 0-999 = day 0, …); newest day = 3
    val rows = (0L until 4000L).map(i => (i, (i / 1000) * dayNs + i))
    val df = rows.toDF("event_id", "ts_ns")
    val out = Sampling.timeDecaySample(df, "event_id", "ts_ns",
      decayBpPerDay = 3000, floorBp = 1000, seed = 0)
    val byAge = out.groupBy("age_days", "keep_bp").count()
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // schedule: age 0 → 10000 (all kept), 1 → 7000, 2 → 4000, 3 → 1000
    assert(byAge(0L)._1 == 10000L && byAge(0L)._2 == 1000L)
    assert(byAge(1L)._1 == 7000L)
    assert(byAge(2L)._1 == 4000L)
    assert(byAge(3L)._1 == 1000L) // floor binds
    // binomial tolerance at n=1000 per day
    assert(math.abs(byAge(1L)._2 - 700L) < 100, byAge)
    assert(math.abs(byAge(3L)._2 - 100L) < 60, byAge)
    // membership is per-id deterministic and survives corpus subsetting
    // (same max day in the subset)
    val sub = Sampling.timeDecaySample(df.filter(col("event_id") % 2 === 0),
      "event_id", "ts_ns", decayBpPerDay = 3000, floorBp = 1000, seed = 0)
    assert(sub.select("event_id")
      .except(out.select("event_id")).count() == 0)
    // empty input (the no-events-yet daily partition): empty frame with
    // the full output schema, not an NPE on the null max aggregate
    val empty = Sampling.timeDecaySample(df.filter(lit(false)),
      "event_id", "ts_ns")
    assert(empty.count() == 0)
    assert(empty.columns.toSet ==
      Set("event_id", "ts_ns", "age_days", "keep_bp"))
  }

  test("corpus profile: shard rows roll up bit-exactly to the corpus card") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val whole = CorpusStats.profile(
      docs.withColumn("g", lit("all")), "g", "text", "n_chars").head()
    val parts = CorpusStats.profile(
      docs.withColumn("g", pmod(col("doc_id"), lit(4)).cast("string")),
      "g", "text", "n_chars")
    val rolled = parts.agg(sum("n_docs").as("n_docs"),
      sum("sum_tokens").as("sum_tokens"),
      sum("n_gopher_pass").as("n_gopher_pass"),
      Hll.merge(col("fp_hll")).as("fp_hll"),
      DdSketch.merge(col("len_dd")).as("len_dd")).head()
    assert(rolled.getLong(0) == whole.getAs[Long]("n_docs"))
    assert(rolled.getLong(1) == whole.getAs[Long]("sum_tokens"))
    assert(rolled.getLong(2) == whole.getAs[Long]("n_gopher_pass"))
    // the mergeable halves merge BIT-exactly: per-shard cards roll up
    // into the corpus card without rescanning anything
    assert(java.util.Arrays.equals(rolled.getAs[Array[Byte]](3),
      whole.getAs[Array[Byte]]("fp_hll")))
    assert(java.util.Arrays.equals(rolled.getAs[Array[Byte]](4),
      whole.getAs[Array[Byte]]("len_dd")))
  }

  test("rrf: integer reciprocal sums match the hand-computed fusion") {
    import spark.implicits._
    def ranking(ids: Seq[Long]) =
      ids.zipWithIndex.map { case (id, i) => (id, i + 1) }.toDF("id", "rk")
    // three systems; doc 3 only in two, doc 4 only in one
    val a = ranking(Seq(1L, 2L, 3L))
    val b = ranking(Seq(2L, 1L, 4L))
    val c = ranking(Seq(1L, 3L, 2L))
    val got = Fusion.rrf(Seq(a, b, c), "id", k0 = 60)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def rcp(rk: Int) = 1000000000000L / (60 + rk)
    assert(got(1L) == (3L, rcp(1) + rcp(2) + rcp(1)))
    assert(got(2L) == (3L, rcp(2) + rcp(1) + rcp(3)))
    assert(got(3L) == (2L, rcp(3) + rcp(2)))
    assert(got(4L) == (1L, rcp(3)))
    // three-system sums are order-independent by integer arithmetic
    val perm = Fusion.rrf(Seq(c, a, b), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(perm == got.map { case (k, v) => k -> v._2 })
  }
}
