package graft.etl

import graft.GraftSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based ETL invariants (SURVEY.md §5.2.3): for random playlist
  * documents (raw ScalaCheck generators, fixed seeds — the scalatestplus
  * bridge isn't in the offline cache), the shred/join graph preserves
  * structural identities. */
class EtlPropertySpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  case class GenTrack(id: String, albumId: Option[String], artistIds: Seq[String],
      releaseDate: String)
  case class GenPlaylist(id: String, tracks: Seq[GenTrack])

  val genTrack: Gen[GenTrack] = for {
    id <- Gen.identifier.map("t" + _.take(8))
    album <- Gen.option(Gen.oneOf("al1", "al2", "al3"))
    nArtists <- Gen.choose(0, 3)
    artists <- Gen.listOfN(nArtists, Gen.oneOf("ar1", "ar2", "ar3", "ar4"))
    rd <- Gen.oneOf("1999", "2024-03", "2024-04-18", "bogus")
  } yield GenTrack(id, album, artists, rd)

  val genPlaylist: Gen[GenPlaylist] = for {
    id <- Gen.identifier.map("p" + _.take(8))
    n <- Gen.choose(0, 6)
    tracks <- Gen.listOfN(n, genTrack)
  } yield GenPlaylist(id, tracks)

  private def toJson(pls: Seq[GenPlaylist]): String = {
    def trackJson(t: GenTrack): String = {
      val album = t.albumId.map(a =>
        s"""{"id": "$a", "name": "A-$a", "release_date": "${t.releaseDate}",
           | "release_date_precision": "day", "total_tracks": 1}""".stripMargin)
        .getOrElse("null")
      val artists = t.artistIds.map(a => s"""{"id": "$a", "name": "N-$a"}""").mkString(",")
      s"""{"track": {"id": "${t.id}", "name": "T", "duration_ms": 1000,
         | "popularity": 1, "explicit": false, "track_number": 1,
         | "album": $album, "artists": [$artists]}}""".stripMargin
    }
    pls.map { p =>
      s"""{"id": "${p.id}", "name": "P", "public": true,
         | "owner": {"id": "o"}, "followers": {"total": 1},
         | "tracks": {"total": ${p.tracks.length},
         |   "items": [${p.tracks.map(trackJson).mkString(",")}]}}""".stripMargin
    }.mkString("[", ",", "]")
  }

  test("shred invariants hold for random playlist documents") {
    (1 to 8).foreach { i =>
      val pls: List[GenPlaylist] =
        Gen.listOfN(3, genPlaylist).pureApply(Gen.Parameters.default, Seed(42L + i))
      locally {
        val dir = java.nio.file.Files.createTempDirectory("graft_prop")
        java.nio.file.Files.writeString(dir.resolve("x.json"), toJson(pls))
        val raw = Bronze.readRaw(spark, dir.toString)
        val bronze = Bronze.shred(raw)
        val gold = Gold.build(Silver.projectAll(bronze))

        val nTracks = pls.map(_.tracks.length).sum
        val nArtistRows = pls.map(_.tracks.map(_.artistIds.length).sum).sum

        // one bronze row per (playlist, track); artists fully exploded
        assert(bronze("tracks").count() == nTracks)
        assert(bronze("albums").count() == nTracks)
        assert(bronze("artists").count() == nArtistRows)

        // fact rows: tracks with BOTH album and ≥1 artist, fanned out by
        // the whole-row-DISTINCT album dim — the same album_id seen with
        // k distinct (normalized) release dates keeps k dim rows, and the
        // fact join multiplies by k (reference semantics, SURVEY §7.4-3)
        def normDate(d: String): String = d.length match {
          case 4 => d + "-01-01"
          case 7 => d + "-01"
          case 10 => d
          case _ => null
        }
        val albumVariants: Map[String, Int] = pls.flatMap(_.tracks)
          .filter(_.albumId.isDefined)
          .groupBy(_.albumId.get)
          .map { case (id, ts) => id -> ts.map(t => normDate(t.releaseDate)).distinct.size }
        val expectedFact = pls.flatMap(_.tracks)
          .filter(t => t.albumId.isDefined && t.artistIds.nonEmpty)
          .map(t => albumVariants(t.albumId.get))
          .sum
        assert(gold("fact_playlist_tracks").count() == expectedFact)

        // every fact key exists in its dim
        val fact = gold("fact_playlist_tracks")
        assert(fact.join(gold("dim_albums"), Seq("album_id"), "left_anti").count() == 0)
        assert(fact.join(gold("dim_artists"), Seq("artist_id"), "left_anti").count() == 0)

        // date normalization: 'bogus' → null, never an error
        val dates = gold("stg_albums").select("album_release_date").collect()
        assert(dates.length == gold("stg_albums").count())
      }
    }
  }
}
