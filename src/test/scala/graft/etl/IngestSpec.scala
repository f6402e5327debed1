package graft.etl

import graft.GraftSession
import org.scalatest.funsuite.AnyFunSuite

class IngestSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  test("fetch → land → shred: the raw zone round-trips through bronze") {
    val rawZone = java.nio.file.Files.createTempDirectory("graft_land").toString
    val written = Ingest.landPlaylists(new Ingest.FakeSpotifyClient(),
      Seq("plA", "plB", "weird?id:x"), rawZone)
    assert(written.length == 3)
    assert(written.exists(_.endsWith("playlist_weird_id_x_50.json")))
    val bronze = Bronze.shred(Bronze.readRaw(spark, rawZone))
    assert(bronze("playlists").count() == 3)
    assert(bronze("tracks").count() == 9) // fake emits 3 tracks per playlist
  }

  /** Scripted transport: pops one canned response per request, records the
    * request log for assertions. */
  private class StubTransport(script: SpotifyHttp.Response*) extends SpotifyHttp.Transport {
    private val queue = scala.collection.mutable.Queue(script: _*)
    val log = scala.collection.mutable.ArrayBuffer.empty[(String, String, Map[String, String])]
    private def next(kind: String, url: String, headers: Map[String, String]) = {
      log += ((kind, url, headers))
      queue.dequeue()
    }
    override def get(url: String, headers: Map[String, String]) = next("GET", url, headers)
    override def postForm(url: String, headers: Map[String, String], body: String) =
      next("POST", url, headers)
  }

  private def tok(t: String) = SpotifyHttp.Response(200, s"""{"access_token": "$t"}""")

  test("HttpSpotifyClient: bearer auth + single 401-refresh-retry") {
    val transport = new StubTransport(
      tok("t1"),                                   // initial client-credentials grant
      SpotifyHttp.Response(401, "expired"),        // first GET rejected
      tok("t2"),                                   // refresh grant
      SpotifyHttp.Response(200, """{"id": "pl1"}""")) // retried GET succeeds
    val client = new SpotifyHttp.HttpSpotifyClient(transport, "cid", "secret")
    assert(client.fetchPlaylist("pl1") == """[{"id": "pl1"}]""") // array-wrapped
    assert(client.tokenRefreshCount == 2)
    val kinds = transport.log.map(_._1)
    assert(kinds == Seq("POST", "GET", "POST", "GET"))
    // grant carries Basic auth of clientId:clientSecret; retry carries the NEW token
    val basic = java.util.Base64.getEncoder.encodeToString("cid:secret".getBytes)
    assert(transport.log(0)._3("Authorization") == s"Basic $basic")
    assert(transport.log(1)._3("Authorization") == "Bearer t1")
    assert(transport.log(3)._3("Authorization") == "Bearer t2")
  }

  test("HttpSpotifyClient: persistent 401 fails after one retry (no loop)") {
    val transport = new StubTransport(
      tok("t1"), SpotifyHttp.Response(401, "no"), tok("t2"), SpotifyHttp.Response(401, "still no"))
    val client = new SpotifyHttp.HttpSpotifyClient(transport, "cid", "secret")
    intercept[SpotifyHttp.AuthException](client.fetchPlaylist("pl1"))
    assert(transport.log.size == 4) // exactly one refresh+retry, then give up
  }

  test("HttpSpotifyClient: paged fetch follows next links and stops at null") {
    val transport = new StubTransport(
      tok("t1"),
      SpotifyHttp.Response(200, """{"items": [1], "next": "https://api.spotify.com/v1/x?offset=100"}"""),
      SpotifyHttp.Response(200, """{"items": [2], "next": null}"""))
    val client = new SpotifyHttp.HttpSpotifyClient(transport, "cid", "secret")
    val pages = client.fetchPaged("x")
    assert(pages.startsWith("[{\"items\": [1]"))
    assert(pages.contains("\"items\": [2]"))
    assert(transport.log.count(_._1 == "GET") == 2)
    assert(transport.log.last._2.endsWith("offset=100"))
  }

  test("HttpSpotifyClient.search: q/type/limit params, genre folded into q, items unwrapped") {
    val searchBody = """{"tracks": {"href": "h", "items": [
      {"id": "t1", "name": "A [live]"}, {"id": "t2", "name": "B \"quoted\]"}],
      "limit": 5, "next": null}}"""
    val transport = new StubTransport(tok("t1"),
      SpotifyHttp.Response(200, searchBody))
    val client = new SpotifyHttp.HttpSpotifyClient(transport, "cid", "secret")
    val items = client.search("summer hits", "track", Some("rock"), limit = 5)
    // the unwrap is the balanced items array — including the ] inside a
    // string value, which a naive scan would cut at
    assert(items.startsWith("[") && items.endsWith("]"))
    assert(items.contains("\"t1\"") && items.contains("B \\\"quoted\\]"))
    val url = transport.log.last._2
    assert(url.contains("search?q=summer+hits+genre%3Arock"), url)
    assert(url.contains("type=track") && url.contains("limit=5"), url)
    // no genre: q is the bare query
    val t2 = new StubTransport(tok("t1"),
      SpotifyHttp.Response(200, """{"artists": {"items": [{"id": "a1"}]}}"""))
    val c2 = new SpotifyHttp.HttpSpotifyClient(t2, "cid", "secret")
    assert(c2.search("misfits", "artist") == """[{"id": "a1"}]""")
    assert(t2.log.last._2.contains("search?q=misfits&type=artist&limit=20"))
    // an items-less entity object is an EMPTY result, like the
    // reference's .get("items", []) read of the same 200 (ADVICE r13 #5)
    val t3 = new StubTransport(tok("t1"),
      SpotifyHttp.Response(200, """{"tracks": {"total": 0}}"""))
    val c3 = new SpotifyHttp.HttpSpotifyClient(t3, "cid", "secret")
    assert(c3.search("x", "track") == "[]")
    // …and an items-less tracks object next to an artists items array
    // must NOT silently hand back artists as track results — empty, not
    // the wrong entity list
    val t4 = new StubTransport(tok("t1"), SpotifyHttp.Response(200,
      """{"tracks": {"total": 0}, "artists": {"items": [{"id": "a1"}]}}"""))
    val c4 = new SpotifyHttp.HttpSpotifyClient(t4, "cid", "secret")
    assert(c4.search("x", "track") == "[]")
    // the ENTITY OBJECT itself missing is still a loud SHAPE error (not
    // an AuthException — auth-specific handlers must not misdiagnose it)
    val t4b = new StubTransport(tok("t1"), SpotifyHttp.Response(200,
      """{"artists": {"items": [{"id": "a1"}]}}"""))
    val c4b = new SpotifyHttp.HttpSpotifyClient(t4b, "cid", "secret")
    intercept[SpotifyHttp.ApiShapeException](c4b.search("x", "track"))
    // an "items" INSIDE a string value of the key object is not a member
    val t5 = new StubTransport(tok("t1"), SpotifyHttp.Response(200,
      """{"tracks": {"msg": "no \"items\" here [sic]", "items": [{"id": "t9"}]}}"""))
    val c5 = new SpotifyHttp.HttpSpotifyClient(t5, "cid", "secret")
    assert(c5.search("x", "track") == """[{"id": "t9"}]""")
  }

  test("landSearch: path separators in the query cannot escape the raw zone") {
    val rawZone = java.nio.file.Files.createTempDirectory("graft_safe").toString
    val p = Ingest.landSearch(new Ingest.FakeSpotifyClient(),
      "AC/DC ../sneaky", "track", rawZone)
    // lossy folds ('/' → '_') carry the raw query's 8-hex digest so
    // distinct queries cannot land on one file (ADVICE r13 #3); the fold
    // itself still keeps the name inside the raw zone
    assert(p.matches(".*AC_DC_.._sneaky-[0-9a-f]{8}_track_None_20\\.json"), p)
    assert(java.nio.file.Paths.get(p).getParent.toString ==
      java.nio.file.Paths.get(rawZone).toString)
    // determinism: the same query re-lands on the same file (day-2 re-run
    // contract), and the collision class is actually split
    val p2 = Ingest.landSearch(new Ingest.FakeSpotifyClient(),
      "AC/DC ../sneaky", "track", rawZone)
    assert(p2 == p)
    val pSpace = Ingest.landSearch(new Ingest.FakeSpotifyClient(),
      "AC DC .. sneaky", "track", rawZone)
    val pSlash = Ingest.landSearch(new Ingest.FakeSpotifyClient(),
      "AC/DC ../sneaky2", "track", rawZone)
    assert(Set(p, pSpace, pSlash).size == 3, s"$p / $pSpace / $pSlash")
    // space-only queries keep the reference's exact name (no digest)
    assert(pSpace.endsWith("AC_DC_.._sneaky_track_None_20.json"), pSpace)
  }

  test("HttpSpotifyClient.search: 401 refresh-retry applies to the search endpoint too") {
    val transport = new StubTransport(
      tok("t1"),
      SpotifyHttp.Response(401, "expired"),
      tok("t2"),
      SpotifyHttp.Response(200, """{"playlists": {"items": [{"id": "p"}]}}"""))
    val client = new SpotifyHttp.HttpSpotifyClient(transport, "cid", "secret")
    assert(client.search("jazz", "playlist") == """[{"id": "p"}]""")
    assert(transport.log(3)._3("Authorization") == "Bearer t2")
  }

  test("landSearch: reference filename scheme, Bronze.readRaw shreds the landed array") {
    val rawZone = java.nio.file.Files.createTempDirectory("graft_search").toString
    val p1 = Ingest.landSearch(new Ingest.FakeSpotifyClient(),
      "summer hits", "track", rawZone, genre = Some("rock"), limit = 2)
    val p2 = Ingest.landSearch(new Ingest.FakeSpotifyClient(),
      "misfits", "artist", rawZone)
    assert(p1.endsWith("summer_hits_track_rock_2.json"))
    // the reference interpolates Python None into genre-less names
    assert(p2.endsWith("misfits_artist_None_20.json"))
    // the landed array roots are list-dispatched by the raw reader (N1):
    // one row per item, search-shaped fields simply project as null
    val raw = Bronze.readRaw(spark, rawZone)
    assert(raw.count() == 5) // 2 tracks + 3 artists
    // and the genre filter visibly reached the fake's items
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(p1))
      .contains("\"genres\": [\"rock\"]"))
  }

  test("GraftExtensions registers without error and its expressions evaluate") {
    // a full --conf spark.sql.extensions integration needs a fresh JVM
    // (getOrCreate reuses the suite-shared session); exercise the wiring
    // and the expression eval path directly
    new graft.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val fp = graft.functions.RollingHashExpr(Literal("abc")).replacement.eval(null)
    assert(fp == (("a".codePointAt(0) * 31L + 'b') * 31 + 'c') % 2147483647L)
    assert(graft.functions.SimHashExpr(Literal("a b c")).replacement.eval(null).asInstanceOf[Long] != 0L)
  }
}
