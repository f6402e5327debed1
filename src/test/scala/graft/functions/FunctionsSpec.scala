package graft.functions

import graft.GraftSession
import graft.ops.{Dedup, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {

  lazy val spark = {
    val s = GraftSession.builder("4").getOrCreate()
    NativeFunctions.register(s)
    s
  }
  val docs = "/root/testdata/sf0.001/documents.parquet"

  test("native simhash equals the higher-order-function formulation") {
    val df = spark.read.parquet(docs)
      .select(col("doc_id"),
        NativeFunctions.graft_simhash(col("text")).as("native"),
        Dedup.simhash(TextOps.tokens(col("text"))).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("native fingerprint equals the higher-order-function formulation on ASCII") {
    val df = spark.read.parquet(docs)
      .select(col("doc_id"),
        NativeFunctions.graft_fingerprint(col("text")).as("native"),
        TextOps.fingerprint(col("text")).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("native word shingles equal the higher-order-function formulation") {
    val df = spark.read.parquet(docs)
      .select(col("doc_id"),
        NativeFunctions.graft_word_shingles(col("text"), 3).as("native"),
        TextOps.wordShingles(col("text"), 3).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
    // edge shapes: short text (< n tokens), single token, repeated spaces
    val edge = spark.sql(
      """SELECT graft_word_shingles('a b', 3) AS s1,
        |       graft_word_shingles('solo', 3) AS s2,
        |       graft_word_shingles('  x   y  z ', 3) AS s3""".stripMargin).head()
    assert(edge.getSeq[String](0) == Seq("a b"))
    assert(edge.getSeq[String](1) == Seq("solo"))
    assert(edge.getSeq[String](2) == Seq("x y z"))
  }

  test("native shingle fingerprints equal the HOF composition (corpus + edges)") {
    def hof(c: org.apache.spark.sql.Column, n: Int) =
      array_distinct(transform(TextOps.wordShingles(c, n),
        s => TextOps.fingerprint(s)))
    val df = spark.read.parquet(docs)
      .select(col("doc_id"),
        NativeFunctions.graft_shingle_fps(col("text"), 3).as("native"),
        hof(col("text"), 3).as("hofv"))
    assert(df.filter(col("native") =!= col("hofv")).count() == 0)
    // edges: short text, single/empty token, repeated spaces, repeats
    // that exercise the distinct, non-ASCII code points, other n
    import spark.implicits._
    val edges = Seq("", " ", "a b", "solo", "  x   y  z ",
      "a b c a b c a b c", "déjà vu déjà vu naïve café", "one two three",
      "\tx\ny z w").toDF("text")
    for (n <- Seq(1, 2, 3, 5)) {
      val e = edges.select(
        NativeFunctions.graft_shingle_fps(col("text"), n).as("native"),
        hof(col("text"), n).as("hofv"))
      assert(e.filter(col("native") =!= col("hofv")).count() == 0, s"n=$n diverged")
    }
  }

  test("native l2sq is bit-exact vs the HOF fold on the embeddings table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroid = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val df = emb.select(
      NativeFunctions.graft_l2sq(col("embedding"), centroid).as("native"),
      graft.ops.Ivf.l2sqHof(col("embedding"), centroid).as("hofv"))
    // bit-exact: same fold order, so =!= (not a tolerance) is the pin
    assert(df.filter(col("native") =!= col("hofv")).count() == 0)
  }

  test("one registry behind both registration surfaces (no drift)") {
    // every Column wrapper method graft_* must have a builder of the
    // same name — the builder list feeds BOTH per-session register()
    // and the cluster-wide GraftExtensions injection, so a function
    // added to one surface but not the other fails here
    val builderNames = NativeFunctions.builders.map(_._1).toSet
    val wrapperNames = NativeFunctions.getClass.getMethods
      .map(_.getName).filter(_.startsWith("graft_")).toSet
    assert(wrapperNames.subsetOf(builderNames),
      s"wrappers without builders: ${wrapperNames -- builderNames}")
    // and the extensions path actually resolves every one of them:
    // inject into a fresh extensions object and count registrations
    var injected = Set.empty[String]
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(
          fd: (org.apache.spark.sql.catalyst.FunctionIdentifier,
            org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
            Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
              org.apache.spark.sql.catalyst.expressions.Expression)): Unit = {
        injected += fd._1.funcName
        super.injectFunction(fd)
      }
    }
    new graft.GraftExtensions().apply(ext)
    assert(builderNames.subsetOf(injected),
      s"builders not injected: ${builderNames -- injected}")
    // the per-entry class name (what DESCRIBE FUNCTION EXTENDED shows)
    // must be a real, loadable Expression subclass — a typo'd or stale
    // class name would silently degrade the catalog metadata
    NativeFunctions.builders.foreach { case (name, cls, _) =>
      val c = Class.forName(cls)
      assert(classOf[org.apache.spark.sql.catalyst.expressions.Expression]
          .isAssignableFrom(c),
        s"$name: $cls is not an Expression subclass")
    }
    // one shape: every builder builds a RuntimeReplaceable over a static
    // call, except the kernels that name their reason at the class
    val handWritten = Set("graft_dot") // built inside the optimizer
    val built = graft.tools.NativeWarmup.frame(spark, 1L)
      .queryExecution.analyzed.expressions.flatMap(_.collect { case e => e })
    NativeFunctions.builders.foreach { case (name, cls, _) =>
      val made = built.filter(_.getClass.getName == cls)
      assert(made.nonEmpty, s"$name: the warm-up frame builds no $cls")
      assert(made.forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable]) ||
        handWritten(name), s"$name: $cls is not a RuntimeReplaceable")
    }
  }

  test("an active session that never went through GraftSession runs every op") {
    import org.apache.spark.sql.SparkSession
    import graft.ops.{Bloom, Ivf}
    // one op per way the operators used to register for themselves:
    // Bloom (the frame's session), Ivf (the vectors' session, around
    // Ivf.assign) and TextOps' dedup fingerprint (the active session)
    val model = Ivf.IvfModel(Array(Array.fill(8)(0.0), Array.fill(8)(0.5)))
    def run(s: SparkSession) = {
      val text = s.read.parquet(docs)
      val bits = Bloom.buildFromText(text, col("text"))
      val hits = text.filter(Bloom.mightContainText(col("text"), bits)).count()
      val cells = Ivf.index(model,
        s.range(64).select(array((0 until 8).map(i =>
          col("id").cast("double") / 64.0 + lit(i * 0.01)): _*).as("v")), "v")
        .select("ivf_cell").collect().map(_.getInt(0)).toSeq
      val fps = text.select(TextOps.dedupFingerprint(col("text")))
        .collect().map(_.getLong(0)).sorted.toSeq
      (bits.toSeq, hits, cells, fps)
    }
    val home = run(spark)
    val foreign = spark.newSession()
    assert(!foreign.catalog.functionExists("graft_fingerprint"))
    SparkSession.setActiveSession(foreign)
    try assert(run(foreign) == home)
    finally SparkSession.setActiveSession(spark)
    assert(home._3.toSet == Set(0, 1))
  }

  test("bench warm-up exercises every registered native function") {
    // NativeWarmup pushes the shared static helpers through the JIT
    // tiers before Bench times anything; a builder it misses would put
    // that function's first-touching query back on the warm-up curve
    val exercised = graft.tools.NativeWarmup.exercised.toSet
    val builderNames = NativeFunctions.builders.map(_._1).toSet
    assert(exercised == builderNames,
      s"missing: ${builderNames -- exercised}; stale: ${exercised -- builderNames}")
    // and the frame actually runs (types line up for every function)
    val ran = graft.tools.NativeWarmup.warmup(spark, rows = 64L, passes = 1)
    assert(ran.toSet == builderNames)
  }

  test("native hyperplane signature equals the HOF composition (corpus + edges)") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    for (bits <- Seq(4, 8); seed <- Seq(42, 7)) {
      val df = emb.select(
        graft.ops.Similarity.hyperplaneSignature(col("embedding"), dim, bits, seed)
          .as("native"),
        graft.ops.Similarity.hyperplaneSignatureHof(col("embedding"), dim, bits, seed)
          .as("hofv"))
      assert(df.filter(col("native") =!= col("hofv")).count() == 0,
        s"bits=$bits seed=$seed")
    }
    // edges: zero vector (every dot exactly 0 → all sign bits set) and
    // negatives — same values under both formulations
    val edge = Seq(
      (1L, Seq(0f, 0f, 0f, 0f)),
      (2L, Seq(-1f, -2f, 3f, -4f)),
      (3L, Seq(1e30f, -1e30f, 1e-30f, 0f))).toDF("id", "v")
    val e = edge.select(
      graft.ops.Similarity.hyperplaneSignature(col("v"), 4, 8, 42).as("native"),
      graft.ops.Similarity.hyperplaneSignatureHof(col("v"), 4, 8, 42).as("hofv"))
    assert(e.filter(col("native") =!= col("hofv")).count() == 0)
    // two equal calls stay equal once replaced (the plane table is one
    // shared reference), so cache lookup and exchange reuse still match
    val v = org.apache.spark.sql.catalyst.expressions.AttributeReference("v",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))()
    assert(HyperplaneSigExpr(v, 4, 8, 42).canonicalized ==
      HyperplaneSigExpr(v, 4, 8, 42).canonicalized)
  }

  test("native gram buckets equal the HOF composition (corpus + edges)") {
    import graft.ops.Dsir
    def hof(c: org.apache.spark.sql.Column, b: Int) =
      transform(Dsir.grams(c), g => Dsir.gramBucket(g, b))
    val df = spark.read.parquet(docs)
      .select(col("doc_id"),
        NativeFunctions.graft_gram_buckets(col("text"), 1024).as("native"),
        hof(col("text"), 1024).as("hofv"))
    assert(df.filter(col("native") =!= col("hofv")).count() == 0)
    import spark.implicits._
    val edges = Seq("", " ", "a", "a b", "  x   y  z ",
      "déjà vu déjà vu naïve café", "\tx\ny z w").toDF("text")
    for (b <- Seq(2, 64, 1024)) {
      val e = edges.select(
        NativeFunctions.graft_gram_buckets(col("text"), b).as("native"),
        hof(col("text"), b).as("hofv"))
      assert(e.filter(col("native") =!= col("hofv")).count() == 0, s"buckets=$b diverged")
    }
  }

  test("native despan: first occurrence wins, partial tails, idempotent") {
    import spark.implicits._
    val cases = Seq(
      // exact aligned repeat: second copy vanishes
      ("a b c d a b c d e f", 4, "a b c d e f"),
      // three copies of one span collapse to one
      ("x y x y x y", 2, "x y"),
      // no repeats: identity (modulo whitespace normalization)
      ("one two three four five", 2, "one two three four five"),
      // partial tail span kept; repeat of the FULL span only
      ("a b c a b", 3, "a b c a b"),
      // whitespace normalizes (tokens re-joined with single spaces)
      ("  p   q  p q ", 2, "p q"),
      ("solo", 4, "solo"),
      ("", 4, "")
    ).toDF("text", "span", "want")
    for (span <- Seq(2, 3, 4)) {
      val got = cases.filter(col("span") === span)
        .select(NativeFunctions.graft_despan(col("text"), span).as("got"),
          col("want"))
      assert(got.filter(col("got") =!= col("want")).count() == 0,
        got.collect().mkString(", "))
    }
    // idempotence: despan(despan(x)) == despan(x) on the corpus
    val docs2 = spark.read.parquet(docs).select(
      NativeFunctions.graft_despan(col("text"), 8).as("once"))
      .select(col("once"),
        NativeFunctions.graft_despan(col("once"), 8).as("twice"))
    assert(docs2.filter(col("once") =!= col("twice")).count() == 0)
  }

  test("native tokenization matches the HOFs on adversarial whitespace (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // mixes of spaces/tabs/newlines and words, incl. leading/trailing runs —
    // the shapes where Spark trim (spaces only) and split (limit -1)
    // diverge from naive Java String.trim/split
    val genText: Gen[String] = Gen.listOfN(24,
      Gen.oneOf(" ", "\t", "\n", "  ", "a", "bb", "the", "x9")).map(_.mkString)
    val texts = Gen.listOfN(300, genText)
      .apply(Gen.Parameters.default, Seed(7L)).get
    import spark.implicits._
    val df = texts.toDF("text").select(
      NativeFunctions.graft_simhash(col("text")).as("ns"),
      Dedup.simhash(TextOps.tokens(col("text"))).as("hs"),
      NativeFunctions.graft_word_shingles(col("text"), 3).as("nw"),
      TextOps.wordShingles(col("text"), 3).as("hw"))
    assert(df.filter(col("ns") =!= col("hs")).count() == 0, "simhash diverged")
    assert(df.filter(col("nw") =!= col("hw")).count() == 0, "shingles diverged")
  }

  test("native minhash signature equals the composed HOF formulation") {
    val df = spark.read.parquet(docs)
      .select(col("doc_id"),
        NativeFunctions.graft_minhash(col("text"), 3, 32).as("native"),
        Dedup.minhashSignature(
          TextOps.hashedShingles(col("text"), 3), 32).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
    // short-text branch (< n tokens → single Horner-fold shingle) and
    // adversarial whitespace must agree too
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genText: Gen[String] = Gen.listOfN(12,
      Gen.oneOf(" ", "\t", "\n", "  ", "a", "bb", "the", "x9")).map(_.mkString)
    val texts = "" :: " " :: "solo" :: "a b" :: Gen.listOfN(300, genText)
      .apply(Gen.Parameters.default, Seed(11L)).get
    import spark.implicits._
    val edge = texts.toDF("text").select(
      NativeFunctions.graft_minhash(col("text"), 3, 16).as("native"),
      Dedup.minhashSignature(
        TextOps.hashedShingles(col("text"), 3), 16).as("hof"))
    assert(edge.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("native dot product is bit-exact vs the higher-order-function fold") {
    import graft.ops.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = emb.select(
      Similarity.dot(col("embedding"), col("embedding")).as("native"),
      Similarity.dotHof(col("embedding"), col("embedding")).as("hof"))
    // === (not tolerance): the sequential double fold must agree exactly
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("SQL registration: graft_* callable from spark.sql") {
    NativeFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_fingerprint('abc') AS f, graft_simhash('a b c') AS s").head()
    assert(r.getLong(0) == (("a".codePointAt(0) * 31L + 'b') * 31 + 'c') % 2147483647L)
    assert(r.getLong(1) != 0L)
  }

  test("literal calls constant-fold at optimization time") {
    NativeFunctions.register(spark)
    val plan = spark.sql("SELECT graft_fingerprint('abc') AS f")
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("rollinghash"), plan)
  }

  test("null input yields null (UnaryExpression null-intolerance)") {
    val r = spark.sql("SELECT graft_fingerprint(CAST(NULL AS STRING))").head()
    assert(r.isNullAt(0))
  }

  test("registration-time scalar args reject non-foldable expressions with a clear error") {
    NativeFunctions.register(spark)
    // a real column as the merge pair would otherwise eval() with no input
    // row — silently binding a wrong constant or throwing opaquely
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_bpe_merge(array('a','b'), text, 'b') FROM parquet.`" +
        docs + "` LIMIT 1").collect()
    }
    assert(e.getMessage.contains("graft_bpe_merge"), e.getMessage)
    assert(e.getCondition == "NON_FOLDABLE_ARGUMENT", e.getCondition)
    // a column of the wrong type fails analysis too, naming the function,
    // for kernels that once failed only at run time
    import spark.implicits._
    val wrongType = Seq(
      () => spark.sql("SELECT graft_simhash(1)").collect(),
      () => Seq("k").toDF("k").select(NativeFunctions.graft_bloom_contains(
        col("k"), Array(1L, 2L), 3)).collect())
    for ((run, fn) <- wrongType.zip(Seq("graft_simhash", "graft_bloom_contains"))) {
      val t = intercept[org.apache.spark.sql.AnalysisException](run())
      assert(t.getCondition.startsWith("DATATYPE_MISMATCH"), t.getCondition)
      assert(t.getMessage.contains(fn), t.getMessage)
    }
    // foldable NON-literal expressions still work (constant-folded exprs)
    val ok = spark.sql(
      "SELECT graft_word_shingles('a b c d', 1 + 1) AS sh").head().getSeq[String](0)
    assert(ok == Seq("a b", "b c", "c d"))
  }

  test("native expressions stay inside whole-stage codegen") {
    val df = spark.read.parquet(docs)
      .select(NativeFunctions.graft_fingerprint(col("text")),
        NativeFunctions.graft_minhash(col("text"), 3, 32))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(plan.contains("WholeStageCodegen"), plan.take(500))
    assert(plan.contains("Hashing.rollingHash"), "generated code should call the static helper")
    assert(plan.contains("Hashing.minhashSig"), "minhash should codegen via the static helper")
  }

  test("dedup key native: equals the regex twin, raw fallback, pinned Unicode scope, codegen") {
    import spark.implicits._
    // corpus-wide equivalence on real documents
    val df = spark.read.parquet(docs)
      .select(NativeFunctions.graft_dedup_key(col("text")).as("native"),
        TextOps.dedupKey(col("text")).as("regex"))
    assert(df.filter(col("native") =!= col("regex")).count() == 0)
    // shape fixtures: case/punct folding, space collapse, leading/trailing,
    // digits, whitespace-only + pure-punct + CJK (raw-text fallback), empty
    val cases = Seq(
      "  Hello,   WORLD!!  42 ",
      "a-b_c.d",
      "!!??!!",
      "   ",
      "",
      "你好 世界",       // CJK: erases -> raw fallback
      "Héllo Wörld",           // accented: é/ö -> space both ways
      "tabs\tand\nnewlines  here")
      .toDF("t")
      .select(col("t"), NativeFunctions.graft_dedup_key(col("t")).as("native"),
        TextOps.dedupKey(col("t")).as("regex"))
      .collect()
    cases.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"'${r.getString(0)}': native='${r.getString(1)}' regex='${r.getString(2)}'")
    }
    // concrete values (not just mutual agreement)
    val v = Seq("  Hello,   WORLD!!  42 ").toDF("t")
      .select(NativeFunctions.graft_dedup_key(col("t"))).head().getString(0)
    assert(v == "hello world 42")
    // the DOCUMENTED divergence class: non-ASCII codepoints whose Unicode
    // lowercase maps INTO ASCII (U+212A KELVIN SIGN -> 'k'). The regex
    // twin keeps the mapped letter; the byte pass folds the whole
    // character to a space — dedupKeyBytes' scope contract.
    val kelvin = Seq("\u212A" + "elvin sign").toDF("t")
      .select(NativeFunctions.graft_dedup_key(col("t")).as("native"),
        TextOps.dedupKey(col("t")).as("regex")).head()
    assert(kelvin.getString(1) == "kelvin sign", kelvin.toString)
    assert(kelvin.getString(0) == "elvin sign", kelvin.toString)
    // codegen: the compiled kernel, not a fallback path
    val plan = spark.read.parquet(docs)
      .select(NativeFunctions.graft_dedup_key(col("text")))
      .queryExecution.executedPlan
    assert(plan.toString.startsWith("*"), plan.toString.take(200)) // codegen'd
    val gen = org.apache.spark.sql.execution.debug.codegenString(plan)
    assert(gen.contains("Hashing.dedupKeyBytes"), gen.take(500))
  }

  test("deflate ratio: determinism, planted-class separation, edge inputs, codegen") {
    import spark.implicits._
    val rep = "the quick brown fox jumps over the lazy dog " * 20
    val noise = (0 until 16).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"n7-$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString).mkString
    val df = Seq((rep, noise)).toDF("rep", "noise").select(
      NativeFunctions.graft_deflate_ratio(col("rep")).as("r_rep"),
      NativeFunctions.graft_deflate_ratio(col("noise")).as("r_noise"))
    val row = df.head()
    val (rRep, rNoise) = (row.getLong(0), row.getLong(1))
    // boilerplate compresses to almost nothing; hex noise stays heavy
    assert(rRep > 0 && rRep < 300, s"r_rep=$rRep")
    assert(rNoise > 400 && rNoise < 950, s"r_noise=$rNoise")
    assert(rNoise > rRep)
    // deterministic across evaluations and across rows (thread-local reuse)
    val many = Seq.fill(64)(noise).toDF("t")
      .repartition(8)
      .select(NativeFunctions.graft_deflate_ratio(col("t")).as("r"))
      .distinct().collect()
    assert(many.length == 1 && many.head.getLong(0) == rNoise)
    // edges: empty -> 0, null -> null (UnaryExpression null contract)
    val edge = spark.sql(
      "SELECT graft_deflate_ratio(''), graft_deflate_ratio(CAST(NULL AS STRING))").head()
    assert(edge.getLong(0) == 0L)
    assert(edge.isNullAt(1))
    // stays inside whole-stage codegen via the static helper
    val plan = spark.read.parquet(docs)
      .select(NativeFunctions.graft_deflate_ratio(col("text")))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(plan.contains("Hashing.deflateRatioPermille"), plan.take(500))
    // type discipline: non-string input fails analysis loudly
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_deflate_ratio(42)").collect()
    }
    assert(e.getMessage.contains("graft_deflate_ratio"), e.getMessage)
  }

  test("graft_fix_mojibake: repairs cp1252 mojibake, genuine text passes through") {
    import spark.implicits._
    def fix(s: String): String = Seq(s).toDF("t")
      .select(NativeFunctions.graft_fix_mojibake(col("t"))).head().getString(0)
    def mangle(clean: String): String = new String(
      clean.getBytes(java.nio.charset.StandardCharsets.UTF_8), "windows-1252")
    // round-trip repair across the common mojibake classes: Latin-1
    // accents, cp1252 punctuation (—, ‘ ’, €, …), mixed. Out of scope
    // (and unrecoverable by construction): text whose mojibake passed
    // through one of cp1252's five UNDEFINED bytes (0x81/8D/8F/90/9D —
    // e.g. '”' = UTF-8 E2 80 9D): a strict cp1252 decode already
    // replaced that byte with U+FFFD, destroying the information any
    // fixer would need (ftfy's "sloppy" decoder exists for exactly
    // this; the strict variant here keeps the accept rule conservative).
    for (clean <- Seq("café", "naïve — right", "über; 12°C ±3",
        "‘smart quotes’ cost €5…", "mixed ascii with é at the end"))
      assert(fix(mangle(clean)) == clean, clean)
    // pass-through classes: pure ASCII (fast path), GENUINE accented
    // text (re-encoded bytes are not valid UTF-8), CJK
    // (cp1252-unencodable), a lone truncated lead byte
    for (same <- Seq("plain ascii", "café — naïve", "日本語テスト", "Ã",
        "price £9 ±2"))
      assert(fix(same) == same, same)
    // single-pass contract: double-encoded mojibake repairs ONE layer
    val once = mangle("é")
    val twice = mangle(once)
    assert(fix(twice) == once && fix(once) == "é")
    // null in, null out; codegen rides the static helper
    assert(Seq((1, null: String)).toDF("i", "t")
      .select(NativeFunctions.graft_fix_mojibake(col("t"))).head().isNullAt(0))
    val plan = spark.read.parquet(docs)
      .select(NativeFunctions.graft_fix_mojibake(col("text")))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(plan.contains("Hashing.fixMojibake"), plan.take(500))
  }
}
