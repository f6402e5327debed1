package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Silver layer: column-pruned re-projection of bronze (reference
  * silver.py:76-94 — P1). The explicit column lists are the operator;
  * with parquet at rest, Catalyst turns each into a pruned scan that
  * never reads the dropped columns.
  *
  * Today each list is exactly its bronze table's columns, in order, so a
  * projection of a bronze hand-off is that scan unchanged and
  * [[Zones.materialize]] copies bronze's files instead of re-encoding
  * them. A list that drops, reorders or casts a column makes silver a
  * written table again, with no change here. */
object Silver {

  val columns: Map[String, Seq[String]] = Map(
    "playlists" -> Schemas.bronzePlaylistCols,
    "tracks" -> Schemas.bronzeTrackCols,
    "albums" -> Schemas.bronzeAlbumCols,
    "artists" -> Schemas.bronzeArtistCols)

  def project(table: String, bronze: DataFrame): DataFrame =
    bronze.select(columns(table).map(col): _*)

  def projectAll(bronze: Map[String, DataFrame]): Map[String, DataFrame] =
    bronze.map { case (t, df) => t -> project(t, df) }
}
