package eltbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class PlaylistGenSpec extends AnyFunSuite {

  private def generate(seed: Long, playlists: Int = 7, tracks: Int = 60, perFile: Int = 3)
      : (Expected, Seq[JsonNode]) = {
    val dir = Files.createTempDirectory("playlistgen").toFile
    try {
      val exp = PlaylistGen.write(seed, playlists, tracks, perFile, dir)
      val mapper = new ObjectMapper
      val docs = dir.listFiles().toSeq.sortBy(_.getName)
        .flatMap(f => mapper.readTree(f).elements().asScala)
      (exp, docs)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  private def items(docs: Seq[JsonNode]): Seq[JsonNode] =
    docs.flatMap(_.get("tracks").get("items").elements().asScala.map(_.get("track")))

  test("two seeds give the same sizes and different contents") {
    val (a, docsA) = generate(1)
    val (b, docsB) = generate(2)
    assert(a.copy(distinctAlbums = 0, distinctArtists = 0, rawBytes = 0) ==
      b.copy(distinctAlbums = 0, distinctArtists = 0, rawBytes = 0))
    assert(docsA.map(_.get("id").asText) != docsB.map(_.get("id").asText))
    assert(items(docsA).map(_.get("id").asText).toSet
      .intersect(items(docsB).map(_.get("id").asText).toSet).isEmpty)
  }

  test("the same seed gives the same bytes") {
    val dirs = Seq(1, 2).map(_ => Files.createTempDirectory("playlistgen").toFile)
    try {
      dirs.foreach(PlaylistGen.write(5, 4, 20, 2, _))
      val Seq(x, y) = dirs.map(d => d.listFiles().toSeq.sortBy(_.getName)
        .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")))
      assert(x == y)
    } finally dirs.foreach { d => d.listFiles().foreach(_.delete()); d.delete() }
  }

  test("expected counts are exact") {
    val (exp, docs) = generate(3)
    val ts = items(docs)
    def artists(t: JsonNode) = t.get("artists").elements().asScala.toSeq
    def hasAlbum(t: JsonNode) = !t.get("album").isNull
    assert(docs.length == exp.playlists)
    assert(ts.length == exp.items)
    assert(ts.map(artists(_).length).sum == exp.artistRows)
    assert(ts.count(t => hasAlbum(t) && artists(t).nonEmpty) == exp.factRows)
    assert(ts.count(!hasAlbum(_)) == exp.nullAlbums)
    assert(ts.filter(hasAlbum).map(_.get("album").get("id").asText).distinct.length == exp.distinctAlbums)
    assert(ts.flatMap(artists).map(_.get("id").asText).distinct.length == exp.distinctArtists)
    assert(exp.files == 3)
  }

  test("every edge case of FIXTURES.md section 1 is present") {
    val (_, docs) = generate(4)
    val ts = items(docs)
    assert(docs.exists(!_.has("description")), "a playlist without description")
    assert(ts.exists(!_.has("explicit")), "a track without explicit")
    assert(ts.exists(_.get("artists").size >= 2), "a multi-artist track")
    assert(ts.exists(_.get("album").isNull), "a null album")
    assert(ts.exists(_.get("artists").size == 0), "empty artists")
    val dates = ts.filterNot(_.get("album").isNull).map(_.get("album").get("release_date").asText)
    assert(dates.map(_.length).toSet == Set(4, 7, 10), "year, month and day precision")
    assert(ts.map(_.get("name").asText).exists(_.exists(c => c == '"' || c > 127)),
      "names that need escaping or are not ASCII")
  }

  test("an album id always carries the same attributes, so dims stay distinct on keys") {
    val (_, docs) = generate(6, playlists = 20)
    val albums = items(docs).filterNot(_.get("album").isNull).map(_.get("album"))
    albums.groupBy(_.get("id").asText).values.foreach(xs => assert(xs.map(_.toString).distinct.length == 1))
    val artists = items(docs).flatMap(_.get("artists").elements().asScala)
    artists.groupBy(_.get("id").asText).values.foreach(xs => assert(xs.map(_.toString).distinct.length == 1))
  }
}
