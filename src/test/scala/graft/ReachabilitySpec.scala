package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every public definition in src/main is reached from src/main, or is on
  * [[ReachabilitySpec.Kept]] with the reason nothing in src/main calls it.
  *
  * A definition is a `def`, `val`, `var`, `type`, `class`, `trait` or
  * `object` declared at the top level or in the body of a public object,
  * class or trait (by indentation); `private`, `protected`, `override` and
  * `implicit` ones are not counted. A reference is a whole-word occurrence
  * of its name outside comments and string literals (an error message
  * that names its own method is not a use), less the declarations of that
  * name, so a name that two definitions share counts as reached when
  * either is. */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  lazy val main = SourceFiles.scala("src/main/scala", strings = false)
  lazy val elsewhere = SourceFiles.scala("src/test/scala", strings = false) ++
    SourceFiles.scala("eltbench/src", strings = false)
  lazy val defs = definitions(main)
  lazy val mainRefs = references(main)
  lazy val otherRefs = references(elsewhere)

  def reached(d: Definition): Int = mainRefs(d.name)

  test("the scan sees the engine's definitions and their uses") {
    assert(main.size > 50 && elsewhere.exists(_._1.startsWith("eltbench/src")))
    val byName = defs.map(d => d.qualified -> d).toMap
    assert(byName.contains("Tables.lsum") && reached(byName("Tables.lsum")) > 0)
    assert(byName.contains("Streams.funnelStream"))
    assert(!byName.contains("Streams.SessionState.nEvents")) // a case-class field
    assert(!defs.exists(_.name == "guardedReplace")) // private
  }

  test("every public src/main definition is referenced outside its declaration") {
    val unreferenced = defs.filter(d => reached(d) == 0 && otherRefs(d.name) == 0 &&
      !Kept.contains(d.qualified))
    assert(unreferenced.isEmpty,
      "nothing references:\n" + unreferenced.map(_.where).mkString("\n"))
  }

  test("a definition src/main does not reach is on the kept list, with a reason") {
    val unlisted = defs.filter(d => reached(d) == 0 && otherRefs(d.name) > 0 &&
      !Kept.contains(d.qualified))
    assert(unlisted.isEmpty,
      "reached only from tests or eltbench (delete it, or keep it with a reason):\n" +
        unlisted.map(_.where).mkString("\n"))
  }

  test("the kept list names only definitions src/main does not reach") {
    val byName = defs.groupBy(_.qualified)
    val stale = Kept.keys.toSeq.sorted.filter(k => byName.get(k).forall(_.exists(reached(_) > 0)))
    assert(stale.isEmpty, "not a definition, or src/main now reaches it:\n" + stale.mkString("\n"))
    assert(Kept.values.forall(_.trim.nonEmpty))
  }
}

object ReachabilitySpec {

  /** Public definitions nothing in src/main calls, each with the reason it
    * stays. */
  val Kept: Map[String, String] = Map(
    // driver and tool entry points: run by class name, not called
    "Verify" -> "driver contract: the correctness dump main",
    "Bench" -> "driver contract: the benchmark main",
    "SparkEntry.entry" -> "driver contract: the flagship query the driver smoke-checks",
    "GraftExtensions" -> "loaded by class name through spark.sql.extensions",
    "ExplainMany" -> "tool main (runMain): plan dumps for a list of queries",
    "PhaseProfile" -> "tool main (tools/run_bench.sh): per-query build/jobs/plan split",
    "PlanAudit" -> "tool main (runMain): writes PLAN_AUDIT.md",
    "ScaleDrill" -> "tool main (runMain): 1x/10x synthetic scaling exponents",
    // the ELT benchmark's contract (eltbench/src calls these)
    "Pipeline" -> "benchmark contract: eltbench runs Pipeline.run and compose",
    "Pipeline.compose" -> "benchmark contract: eltbench's traced staged pass",
    "Zones.readParquet" -> "benchmark contract: eltbench's checks read zones back",
    "Models" -> "library API: the typed gold models",
    "Models.typedGold" -> "library API: typed views over the gold frames",
    // the reference's ingestion side: the fetcher and landing helpers
    "Ingest.FakeSpotifyClient" -> "library API: the offline client the landing helpers take",
    "Ingest.landPlaylists" -> "library API: the reference's playlist landing (README)",
    "Ingest.landSearch" -> "library API: the reference's search landing",
    "Bronze.readRawPermissive" -> "library API: the reference's tolerant raw read",
    "SpotifyHttp" -> "library API: the live Spotify Web API client",
    "SpotifyHttp.JdkTransport" -> "library API: the live transport (README); tests use a fake",
    "SpotifyHttp.HttpSpotifyClient" -> "library API: the live client (README)",
    "SpotifyHttp.HttpSpotifyClient.fetchPaged" -> "library API: follows a paged endpoint",
    "SpotifyHttp.HttpSpotifyClient.tokenRefreshCount" -> "test hook: token grants so far",
    // reference formulations the native kernels are pinned against
    "Similarity.dotHof" -> "reference implementation: graft_dot is pinned against it",
    "Similarity.hyperplaneSignatureHof" -> "reference implementation: graft_hplane_sig is pinned against it",
    "Dedup.minhashSignature" -> "reference implementation: graft_minhash_sig is pinned against it",
    "Dsir.grams" -> "reference implementation: the native gram buckets are pinned against it",
    "Dsir.gramBucket" -> "reference implementation: the native gram buckets are pinned against it",
    "Dedup.connectedComponentsLabelProp" -> "reference implementation: the star components are checked against it",
    // operators a pipeline calls that no query exercises
    "Dedup.ngramJaccardNearDups" -> "library API: verified n-gram Jaccard near-dup pairs",
    "Multimodal.videoSeqNearDups" -> "library API: video-sequence near-dup pairs",
    "Incremental.saveBloom" -> "library API: persists the cross-run bloom state",
    "Incremental.loadBloom" -> "library API: reloads the cross-run bloom state",
    "Incremental.nearDupsAgainstState" -> "library API: near-dups against persisted state",
    "ExactPercentile.guardFromConf" -> "library API: the session-configured group-size guard",
    "Sampling.weightedSample" -> "library API: the filter form of keepByWeight, batch or stream",
    "Skew" -> "library API: skew-handling joins",
    "Skew.saltedJoin" -> "library API: salted equi-join for hot keys",
    "Skew.keyProfile" -> "library API: key-frequency profile of a join side",
    "Url.canonicalize" -> "library API: canonical URL form",
    "Url.registeredDomainWithSuffixes" -> "library API: registered domain under a caller's suffix list",
    "Url.loadPslFile" -> "library API: loads a Public Suffix List file",
    "Url.keepUrl" -> "library API: the blocklist predicate",
    "Url.filterByBlocklist" -> "library API: the blocklist filter",
    "OpCaches.registeredCount" -> "test hook: cached frames still registered",
    // the streaming surface: stateful operators with no batch equivalent
    "Streams" -> "library API: the Structured Streaming surface",
    "Streams.runBronzeOnce" -> "library API: incremental bronze shred (AvailableNow)",
    "Streams.windowedCounts" -> "library API: watermarked tumbling-window counts",
    "Streams.dedupStream" -> "library API: watermarked exact dedup",
    "Streams.normalizedDedupStream" -> "library API: watermarked normalized dedup",
    "Streams.curateStream" -> "library API: streaming curation",
    "Streams.curateWebStream" -> "library API: streaming web curation",
    "Streams.imageDedupStream" -> "library API: watermarked perceptual image dedup",
    "Streams.audioDedupStream" -> "library API: watermarked perceptual audio dedup",
    "Streams.videoDedupStream" -> "library API: watermarked video-sequence dedup",
    "Streams.dedupAgainstStateStream" -> "library API: keyed dedup against persisted state",
    "Streams.distinctSketchStream" -> "library API: per-window HLL sketches",
    "Streams.quantileSketchStream" -> "library API: per-window DDSketches",
    "Streams.heavyHittersStream" -> "library API: per-window Misra-Gries summaries",
    "Streams.sessionize" -> "library API: flatMapGroupsWithState sessionization",
    "Streams.funnelStream" -> "library API: stateful funnel depth",
    "Streams.gapStream" -> "library API: stateful inter-event gaps",
  )

  final case class Definition(qualified: String, name: String, file: String, line: Int) {
    def where: String = s"$qualified ($file:$line)"
  }

  private val DeclLine = ("""^( *)(?:@\w+\s+)*""" +
    """((?:(?:private|protected)(?:\[\w+\])?\s+|(?:override|implicit|final|lazy|sealed|abstract|case)\s+)*)""" +
    """(def|val|var|type|class|trait|object)\s+([A-Za-z_][A-Za-z0-9_]*)""").r.unanchored
  private val Word = """[A-Za-z_][A-Za-z0-9_]*""".r

  private case class Decl(indent: Int, modifiers: String, kind: String, name: String) {
    def public: Boolean = !Seq("private", "protected", "override", "implicit")
      .exists(m => modifiers.split("\\s+").exists(_.startsWith(m)))
    def template: Boolean = Set("class", "trait", "object")(kind)
  }

  private def decl(line: String): Option[Decl] = line match {
    case DeclLine(indent, mods, kind, name) => Some(Decl(indent.length, mods, kind, name))
    case _ => None
  }

  /** Public definitions by the rules in the class doc. A declaration is a
    * member when the nearest line above it that is indented less opens a
    * public object, class or trait. */
  def definitions(sources: Seq[(String, String)]): Seq[Definition] =
    sources.flatMap { case (file, text) =>
      val lines = text.split("\n", -1).toIndexedSeq
      val owners = scala.collection.mutable.Map.empty[Int, String] // header line -> qualified name
      for ((line, i) <- lines.zipWithIndex.toList; d <- decl(line) if d.public;
           owner <- if (d.indent == 0) Some("") else (i - 1 to 0 by -1).find { j =>
             lines(j).trim.nonEmpty && lines(j).takeWhile(_ == ' ').length < d.indent
           }.flatMap(owners.get)) yield {
        val qualified = if (owner.isEmpty) d.name else s"$owner.${d.name}"
        if (d.template) owners(i) = qualified
        Definition(qualified, d.name, file, i + 1)
      }
    }

  /** Whole-word occurrences of each name, less its declarations. */
  def references(sources: Seq[(String, String)]): Map[String, Int] = {
    val words = sources.flatMap(s => Word.findAllIn(s._2)).groupMapReduce(identity)(_ => 1)(_ + _)
    val declared = sources.flatMap(_._2.split("\n").flatMap(decl).map(_.name))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    words.map { case (w, n) => w -> (n - declared.getOrElse(w, 0)) }.withDefaultValue(0)
  }
}
