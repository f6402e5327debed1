package eltbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** What a generated raw zone must turn into, counted while writing it. */
final case class Expected(
    playlists: Int,
    items: Long,          // track items = bronze tracks rows = bronze albums rows
    artistRows: Long,     // summed artist-array lengths = bronze artists rows
    factRows: Long,       // items with an album and at least one artist
    nullAlbums: Long,     // items whose album is null
    distinctAlbums: Int,  // distinct non-null album ids
    distinctArtists: Int, // distinct artist ids
    files: Int,
    rawBytes: Long)

/** Seeded generator of raw playlist JSON shaped like the reference's raw
  * zone (FIXTURES.md §1): each file is a multi-line JSON array of playlist
  * documents, each with `tracks.items[].track`.
  *
  * The seed draws the content (ids, names, numbers, which album and artists
  * a track points at). The layout is fixed by position, so every seed gives
  * the same number of playlists, items, artist rows and fact rows, and every
  * edge case FIXTURES.md §1 asks for appears at fixed positions:
  *  - playlists with no `description` key (every third playlist);
  *  - tracks with no `explicit` key;
  *  - tracks with two and with three artists;
  *  - tracks with `"album": null` and tracks with `"artists": []`;
  *  - release dates of 4, 7 and 10 characters (year, month, day precision).
  *
  * Albums and artists come from seeded pools with one fixed set of
  * attributes per id, so the gold dims are distinct on their keys.
  * Plain single-threaded JVM code; no Spark.
  */
object PlaylistGen {

  private val Alphabet = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
  private val Words = Array("Blue", "Night", "Drive", "Ocean", "Fire", "Gold", "Echo",
    "Rain", "Velvet", "Neon", "Storm", "Dance", "Mañana", "Café", "Über", "Quiet",
    "Say \"Hi\"", "Back\\Slash", "Summer", "Paper")

  // Item layout by global item index modulo 50.
  private def artistCount(r: Int): Int =
    if (r == 11) 0 else if (r % 10 == 3) 2 else if (r % 10 == 7) 3 else 1
  private def albumIsNull(r: Int): Boolean = r == 29
  private def explicitMissing(r: Int): Boolean = r % 8 == 5

  private final case class Album(id: String, name: String, date: String, total: Int)
  private final case class Artist(id: String, name: String)

  def write(seed: Long, playlists: Int, tracksPerPlaylist: Int, playlistsPerFile: Int,
      dir: File): Expected = {
    require(playlists > 0 && tracksPerPlaylist > 0 && playlistsPerFile > 0)
    dir.mkdirs()
    val rnd = new java.util.SplittableRandom(seed)
    def id(): String = {
      val sb = new java.lang.StringBuilder(22)
      var i = 0
      while (i < 22) { sb.append(Alphabet.charAt(rnd.nextInt(Alphabet.length))); i += 1 }
      sb.toString
    }
    def title(n: Int): String =
      (0 until n).map(_ => Words(rnd.nextInt(Words.length))).mkString(" ")
    val items = playlists.toLong * tracksPerPlaylist
    val albums = Array.tabulate(math.max(3, (items / 5).toInt)) { a =>
      val y = 1960 + rnd.nextInt(65)
      val m = 1 + rnd.nextInt(12)
      val d = 1 + rnd.nextInt(28)
      // album index modulo 3 fixes the release-date precision
      val date = a % 3 match {
        case 0 => f"$y%04d"
        case 1 => f"$y%04d-$m%02d"
        case _ => f"$y%04d-$m%02d-$d%02d"
      }
      Album(id(), title(2), date, 1 + rnd.nextInt(30))
    }
    val artists = Array.fill(math.max(4, (items / 4).toInt))(Artist(id(), title(2)))
    val albumsUsed = new java.util.BitSet(albums.length)
    val artistsUsed = new java.util.BitSet(artists.length)
    var artistRows, factRows, nullAlbums, rawBytes = 0L
    var files = 0
    var g = 0L
    var p = 0
    while (p < playlists) {
      val f = new File(dir, f"playlists-$files%05d.json")
      val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f),
        StandardCharsets.UTF_8), 1 << 16)
      out.write("[\n")
      val end = math.min(playlists, p + playlistsPerFile)
      while (p < end) {
        val js = new Json
        js.raw("{").field("id", id()).raw(",").field("name", title(3))
        if (p % 3 != 1) js.raw(",").field("description", title(6))
        js.raw(s""","public":${rnd.nextBoolean()},"collaborative":false,""")
          .field("snapshot_id", id() + id())
          .raw(s""","owner":{"id":"${id().take(8).toLowerCase}"},""")
          .raw(s""""followers":{"total":${rnd.nextInt(20000000)}},""")
          .raw(s""""tracks":{"total":$tracksPerPlaylist,"items":[""")
          .raw("\n")
        var t = 0
        while (t < tracksPerPlaylist) {
          val r = (g % 50).toInt
          if (t > 0) js.raw(",\n")
          js.raw("""{"added_at":"2024-04-22T11:06:52Z","is_local":false,"track":{""")
            .field("id", id()).raw(",").field("name", title(2))
            .raw(s""","duration_ms":${120000 + rnd.nextInt(300000)}""")
            .raw(s""","popularity":${rnd.nextInt(101)}""")
          if (!explicitMissing(r)) js.raw(s""","explicit":${rnd.nextBoolean()}""")
          js.raw(s""","track_number":${t + 1},"album":""")
          if (albumIsNull(r)) { js.raw("null"); nullAlbums += 1 }
          else {
            // the first three positions of every 50 pin all three precisions
            val a = if (r < 3) r else rnd.nextInt(albums.length)
            albumsUsed.set(a)
            val al = albums(a)
            val precision = al.date.length match { case 4 => "year"; case 7 => "month"; case _ => "day" }
            js.raw("{").field("id", al.id).raw(",").field("name", al.name).raw(",")
              .field("release_date", al.date).raw(",")
              .field("release_date_precision", precision)
              .raw(s""","total_tracks":${al.total},"album_type":"album"}""")
          }
          js.raw(""","artists":[""")
          val n = artistCount(r)
          val picked = new Array[Int](n)
          var k = 0
          while (k < n) {
            var a = rnd.nextInt(artists.length)
            while (picked.take(k).contains(a)) a = rnd.nextInt(artists.length)
            picked(k) = a
            artistsUsed.set(a)
            if (k > 0) js.raw(",")
            js.raw("{").field("id", artists(a).id).raw(",").field("name", artists(a).name)
              .raw(s""","uri":"spotify:artist:${artists(a).id}"}""")
            k += 1
          }
          js.raw("]}}")
          artistRows += n
          if (n > 0 && !albumIsNull(r)) factRows += 1
          g += 1
          t += 1
        }
        js.raw("]}}")
        js.raw(if (p + 1 < end) ",\n" else "\n")
        out.write(js.toString)
        p += 1
      }
      out.write("]\n")
      out.close()
      rawBytes += f.length
      files += 1
    }
    Expected(playlists, items, artistRows, factRows, nullAlbums,
      albumsUsed.cardinality, artistsUsed.cardinality, files, rawBytes)
  }

  /** Minimal JSON text builder: raw fragments plus escaped string fields. */
  private final class Json {
    private val sb = new java.lang.StringBuilder(4096)
    def raw(s: String): Json = { sb.append(s); this }
    def field(k: String, v: String): Json = {
      sb.append('"').append(k).append("\":\"")
      var i = 0
      while (i < v.length) {
        v.charAt(i) match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case c => sb.append(c)
        }
        i += 1
      }
      sb.append('"')
      this
    }
    override def toString: String = sb.toString
  }
}
