package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bronze layer: shred raw playlist documents into the 4-table star schema
  * (the reference's recursive-descent JSON flattening, re-expressed as
  * declarative explode/select plans — SURVEY.md §2.3 N1–N8).
  *
  * Semantics preserved exactly:
  *  - description defaults to "" (reference bronze.py:105), explicit
  *    defaults to false (bronze.py:143) — N7.
  *  - the tracks table keeps ONLY the first artist (bronze.py:146) while
  *    the artists table explodes all of them (bronze.py:186-191) — N4/N6;
  *    two different artist cardinalities coexist by design.
  *  - every bronze column is a string; booleans serialize lowercase
  *    ('true'/'false', matching DuckDB's TEXT rendering) — N8.
  *  - albums are emitted once per track (duplicated per track), carrying
  *    the linking track_id (bronze.py:169-175) — N5.
  *
  * Scale: each output is scan → Generate(explode) → Project, whole-stage
  * codegen, no shuffle. At 100 TB of playlist JSON this parallelizes per
  * input split; the only cross-row operation in the whole bronze stage is
  * the file write. The four tables are four plans over the same raw scan:
  * written one by one, they parse the JSON four times unless the caller
  * caches the raw frame, as [[Pipeline.run]] does.
  */
object Bronze {

  /** Read a raw-zone directory/file of playlist JSON (array-of-playlists
    * per file, multiline) with the explicit schema. */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.rawPlaylistSchema)
      .option("multiLine", true)
      .json(path)

  /** S3-parity tolerant read: malformed documents land in
    * `_corrupt_record` instead of failing the batch (the reference's
    * chardet-decode-with-replacement fallback, bronze.py:51-60, expressed
    * as Spark's PERMISSIVE mode). Callers split on
    * `_corrupt_record IS NULL` to quarantine bad inputs. */
  def readRawPermissive(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(Schemas.rawPlaylistSchema.add("_corrupt_record", "string"))
      .option("multiLine", true)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** All-string projection in the given column order (N8). */
  private def stringly(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(c => col(c).cast("string").as(c)): _*)

  /** N2: one row per playlist. */
  def playlists(raw: DataFrame): DataFrame =
    stringly(
      raw.select(
        col("id"),
        col("name"),
        coalesce(col("description"), lit("")).as("description"),
        col("owner.id").as("owner_id"),
        col("followers.total").as("followers"),
        col("public")),
      Schemas.bronzePlaylistCols)

  /** The exploded (playlist, track item) spine of tracks/albums/artists.
    * Each caller re-derives it so the three outputs stay independent
    * plans. Nothing shares that work: each table written from an uncached
    * raw frame parses the JSON again. */
  private def items(raw: DataFrame): DataFrame =
    raw.select(col("id").as("playlist_id"),
      explode(col("tracks.items")).as("item"))

  /** N3+N4: one row per (playlist, track position); first artist only. */
  def tracks(raw: DataFrame): DataFrame =
    stringly(
      items(raw).select(
        col("item.track.id").as("track_id"),
        col("item.track.name").as("name"),
        col("playlist_id"),
        col("item.track.album.id").as("album_id"),
        col("item.track.duration_ms").as("duration_ms"),
        col("item.track.popularity").as("popularity"),
        coalesce(col("item.track.explicit"), lit(false)).as("explicit"),
        col("item.track.track_number").as("track_number"),
        col("item.track.album.release_date").as("album_release_date"),
        // try_element_at: empty artists → null key (the reference's .get()
        // null-handling, N7); plain element_at throws under ANSI
        try_element_at(col("item.track.artists"), lit(1)).getField("id").as("artist_id")),
      Schemas.bronzeTrackCols)

  /** N5: one albums row per track (duplicated per track by design; a track
    * with no album still emits a row of nulls + track_id, like the
    * reference's unconditional insert — the fact join drops it later). */
  def albums(raw: DataFrame): DataFrame =
    stringly(
      items(raw)
        .select(
          col("item.track.album.id").as("album_id"),
          col("item.track.album.name").as("name"),
          col("item.track.album.release_date").as("release_date"),
          col("item.track.album.total_tracks").as("total_tracks"),
          col("item.track.id").as("track_id")),
      Schemas.bronzeAlbumCols)

  /** N6: one artists row per (track, artist). */
  def artists(raw: DataFrame): DataFrame =
    stringly(
      items(raw)
        .select(col("item.track.id").as("track_id"),
          explode(col("item.track.artists")).as("artist"))
        .select(
          col("artist.id").as("artist_id"),
          col("artist.name").as("name"),
          col("track_id")),
      Schemas.bronzeArtistCols)

  /** All four bronze tables from one raw frame. */
  def shred(raw: DataFrame): Map[String, DataFrame] = Map(
    "playlists" -> playlists(raw),
    "tracks" -> tracks(raw),
    "albums" -> albums(raw),
    "artists" -> artists(raw))
}
