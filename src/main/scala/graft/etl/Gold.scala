package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gold layer: typed staging + dims + fact (the reference's dbt models,
  * composed as pure DataFrame → DataFrame functions so the whole graph
  * optimizes as one Catalyst plan instead of dbt's per-model
  * materialization walls — SURVEY.md §3.3).
  *
  * Reference models: dbt/spotify_etl_aws/models/staging/stg_*.sql,
  * core/dim_*.sql, core/fact_playlist_tracks.sql; date normalization from
  * the newer copies at airflow/dags/dbt/spotify_etl_aws/models/staging/
  * stg_{tracks,albums}.sql:13-18 (§2.8 F2).
  */
object Gold {

  /** F2: Spotify release-date precision normalization — year / year-month /
    * full-date strings → DATE, anything else → null. */
  def normalizeReleaseDate(d: Column): Column =
    when(length(d) === 4, to_date(concat(d, lit("-01-01"))))
      .when(length(d) === 7, to_date(concat(d, lit("-01"))))
      .when(length(d) === 10, to_date(d))
      .otherwise(lit(null).cast("date"))

  /** stg_playlists.sql:5-10 — typed + prefixed. */
  def stgPlaylists(silver: DataFrame): DataFrame =
    silver.select(
      col("id").cast("string").as("playlist_id"),
      col("name").cast("string").as("playlist_name"),
      col("description").cast("string").as("playlist_description"),
      col("owner_id").cast("string").as("playlist_owner_id"),
      col("followers").cast("int").as("playlist_followers"),
      col("public").cast("boolean").as("playlist_public"))

  /** stg_tracks.sql:5-14 + F2 date CASE. */
  def stgTracks(silver: DataFrame): DataFrame =
    silver.select(
      col("track_id").cast("string").as("track_id"),
      col("name").cast("string").as("track_name"),
      col("playlist_id").cast("string").as("playlist_id"),
      col("album_id").cast("string").as("album_id"),
      col("duration_ms").cast("int").as("track_duration_ms"),
      col("popularity").cast("int").as("track_popularity"),
      col("explicit").cast("boolean").as("track_explicit"),
      col("track_number").cast("int").as("track_number"),
      normalizeReleaseDate(col("album_release_date")).as("album_release_date"),
      col("artist_id").cast("string").as("artist_id"))

  /** stg_albums.sql:5-8 — note: DROPS track_id (P3); that projection is
    * what lets the dim DISTINCT collapse to one row per album. */
  def stgAlbums(silver: DataFrame): DataFrame =
    silver.select(
      col("album_id").cast("string").as("album_id"),
      col("name").cast("string").as("album_name"),
      normalizeReleaseDate(col("release_date")).as("album_release_date"),
      col("total_tracks").cast("int").as("album_total_tracks"))

  /** stg_artists.sql:6-8. */
  def stgArtists(silver: DataFrame): DataFrame =
    silver.select(
      col("artist_id").cast("string").as("artist_id"),
      col("name").cast("string").as("artist_name"),
      col("track_id").cast("string").as("track_id"))

  /** dim_artists.sql:6-7 — whole-row DISTINCT (NOT per-key dedup: an
    * artist with two name spellings keeps both rows, and the fact join
    * fans out — reference semantics, preserved deliberately). */
  def dimArtists(stgArtists: DataFrame): DataFrame =
    stgArtists.select("artist_id", "artist_name").distinct()

  /** dim_albums.sql:4-7 — whole-row DISTINCT over the 4 album columns. */
  def dimAlbums(stgAlbums: DataFrame): DataFrame =
    stgAlbums.distinct()

  /** dim_playlists.sql:6-11 — passthrough. */
  def dimPlaylists(stgPlaylists: DataFrame): DataFrame =
    stgPlaylists

  /** fact_playlist_tracks.sql:3-21 — inner joins drop tracks whose album /
    * artist extraction failed (null keys): intended reference behavior.
    * Dims are tiny relative to the fact → broadcast both (no shuffle for
    * the fact build at any scale). */
  def factPlaylistTracks(stgTracks: DataFrame, dimAlbums: DataFrame,
      dimArtists: DataFrame): DataFrame =
    stgTracks
      .join(broadcast(dimAlbums.withColumnRenamed("album_release_date", "dim_album_release_date")),
        Seq("album_id"), "inner")
      .join(broadcast(dimArtists), Seq("artist_id"), "inner")
      .select(
        col("playlist_id"), col("track_id"), col("track_name"),
        col("track_number"), col("track_duration_ms"), col("track_popularity"),
        col("track_explicit"), col("album_release_date"),
        col("album_name"), col("album_id"), col("artist_name"), col("artist_id"))

  /** The full gold graph from silver tables.
    *
    * `handOff(name, df)` is applied to every node before its consumers use
    * it, in dependency order (staging, then dims, then the fact), and its
    * result is what the map returns. The identity keeps the graph one lazy
    * plan; [[Pipeline.run]] passes a zone write + read-back, so the dims
    * are built from the written staging tables and the fact from the
    * written `stg_tracks` and dims. */
  def build(silver: Map[String, DataFrame],
      handOff: (String, DataFrame) => DataFrame = (_, df) => df): Map[String, DataFrame] = {
    val sp = handOff("stg_playlists", stgPlaylists(silver("playlists")))
    val st = handOff("stg_tracks", stgTracks(silver("tracks")))
    val sal = handOff("stg_albums", stgAlbums(silver("albums")))
    val sar = handOff("stg_artists", stgArtists(silver("artists")))
    val dp = handOff("dim_playlists", dimPlaylists(sp))
    val da = handOff("dim_albums", dimAlbums(sal))
    val dar = handOff("dim_artists", dimArtists(sar))
    Map(
      "stg_playlists" -> sp, "stg_tracks" -> st,
      "stg_albums" -> sal, "stg_artists" -> sar,
      "dim_playlists" -> dp, "dim_albums" -> da, "dim_artists" -> dar,
      "fact_playlist_tracks" -> handOff("fact_playlist_tracks", factPlaylistTracks(st, da, dar)))
  }
}
