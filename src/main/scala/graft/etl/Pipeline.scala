package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** End-to-end playlist ELT (the reference's 4 chained DAGs, D1–D4, as one
  * composable program; stage boundaries = parquet writes, exactly like the
  * reference's zone hand-offs).
  *
  * `run` materializes every stage and pays each zone once: every hand-off
  * is a [[Zones.materialize]] (write, then read the written copy with the
  * writer's schema — no schema-inference job), the raw JSON is parsed once
  * for all four bronze tables, and each gold consumer (dims, fact) reads
  * the written copies of its inputs instead of recomputing them.
  *
  * `compose` returns the gold frames as lazy plans over the raw input with
  * NO intermediate materialization — the whole raw→gold graph then
  * optimizes as a single Catalyst plan (a genuine improvement over the
  * reference's per-model walls, SURVEY §3.3).
  */
object Pipeline {

  /** Materializing run: raw JSON path → bronze/silver/gold parquet zones
    * under `warehouseDir`. Returns the gold frames, read from the gold zone.
    *
    * The parsed raw frame is persisted (MEMORY_AND_DISK) for the four
    * bronze writes and unpersisted, blocking, before silver starts — also
    * when a bronze write throws. A raw frame the caller already cached is
    * reused and left cached. */
  def run(spark: SparkSession, rawPath: String, warehouseDir: String,
      singleFile: Boolean = false): Map[String, DataFrame] = {
    def handOff(zone: String)(table: String, df: DataFrame): DataFrame =
      Zones.materialize(df, s"$warehouseDir/$zone/$table", singleFile)
    def zone(name: String, tables: Map[String, DataFrame]): Map[String, DataFrame] =
      tables.map { case (t, df) => t -> handOff(name)(t, df) }

    val raw = Bronze.readRaw(spark, rawPath)
    val owned = raw.storageLevel == StorageLevel.NONE
    if (owned) raw.persist(StorageLevel.MEMORY_AND_DISK)
    val bronze = try zone("bronze", Bronze.shred(raw))
      finally if (owned) raw.unpersist(blocking = true)
    Gold.build(zone("silver", Silver.projectAll(bronze)), handOff("gold"))
  }

  /** Lazy composition: raw → gold as unmaterialized plans. */
  def compose(spark: SparkSession, rawPath: String): Map[String, DataFrame] =
    Gold.build(Silver.projectAll(Bronze.shred(Bronze.readRaw(spark, rawPath))))
}
