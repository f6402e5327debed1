package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Storage-zone IO (reference sinks K1–K7, SURVEY.md §2.2).
  *
  * The reference fans each stage out to local disk + S3 + MotherDuck; here
  * every zone is a path prefix (s3a:// or file://) and the warehouse role
  * is played by `saveAsTable` against the session catalog. Single-file
  * parity (`COPY ... TO` one parquet) is opt-in via `singleFile` — never
  * used on the hot path at scale (coalesce(1) serializes the write).
  *
  * Zone hand-offs go through [[materialize]]: the next zone reads the
  * written copy with the schema the writer already had, so a hand-off
  * costs the write and nothing else.
  */
object Zones {

  /** K1/K2: raw-zone JSON landing. */
  def writeRawJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** K3/K4: parquet zone write. `partitionBy` is the scale path (e.g.
    * ingest_date); `singleFile` reproduces the reference's one-file-per-
    * table layout for small parity outputs. */
  def writeParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil, singleFile: Boolean = false): Unit = {
    val d = if (singleFile) df.coalesce(1) else df
    val w = d.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** K5/K7: warehouse materialization (MotherDuck CTAS equivalent).
    *
    * Re-runnable after a crash or catalog reset: when the catalog has no
    * entry for `table` but its default warehouse location survives on disk
    * (a previous run's files under a fresh metastore — the daily-pipeline
    * restart case), Spark refuses the CTAS with LOCATION_ALREADY_EXISTS
    * rather than risk eating foreign data. The orphan is OUR table's
    * default path, so clear it and proceed — `mode(Overwrite)` already
    * covers the catalog-knows-it case. */
  def saveTable(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(ident))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    df.write.mode(SaveMode.Overwrite).saveAsTable(table)
  }

  /** S4/S5: parquet zone scan. The schema comes from the files' footers:
    * Spark starts a schema-inference job per call. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Zone hand-off: write `df` to `path` ([[writeParquet]]) and return the
    * written copy, read back with the writer's schema. The read-back starts
    * no Spark job (no footer inference), and the next zone's plans scan the
    * written parquet instead of recomputing `df`. */
  def materialize(df: DataFrame, path: String, singleFile: Boolean = false): DataFrame = {
    writeParquet(df, path, singleFile = singleFile)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** Generic format surface (csv/orc/json/parquet interchange). CSV gets
    * headers; reads take an explicit schema — inference is never used on
    * production paths. */
  def write(df: DataFrame, path: String, format: String): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (format == "csv") w.option("header", "true") else w).format(format).save(path)
  }

  def read(spark: SparkSession, path: String, format: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val r = spark.read.schema(schema)
    (if (format == "csv") r.option("header", "true") else r).format(format).load(path)
  }
}
