package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

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
  * costs the write and nothing else — and a hand-off that changes nothing
  * (an unchanged scan of an earlier hand-off) costs a file copy instead.
  */
object Zones {

  /** K3/K4: parquet zone write. `partitionBy` is the scale path (e.g.
    * ingest_date); `singleFile` reproduces the reference's one-file-per-
    * table layout for small parity outputs. */
  def writeParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil, singleFile: Boolean = false): Unit = {
    refuseOverwritingInput(df, path, df.sparkSession.sessionState.newHadoopConf())
    overwriteParquet(df, path, partitionBy, singleFile)
  }

  private def overwriteParquet(df: DataFrame, path: String,
      partitionBy: Seq[String], singleFile: Boolean): Unit = {
    val d = if (singleFile) df.coalesce(1) else df
    val w = d.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Every zone writer refuses, before anything is deleted, to overwrite
    * a path that `df` reads or a directory above one: Spark's overwrite
    * deletes the input first and then fails to read it
    * (FAILED_READ_FILE.FILE_NOT_EXIST), and the data is lost. */
  private def refuseOverwritingInput(df: DataFrame, path: String,
      conf: Configuration): Unit = {
    val dst = new Path(path)
    val target = dst.getFileSystem(conf).makeQualified(dst)
    def within(p: Path): Boolean = p != null && (p == target || within(p.getParent))
    val read = df.queryExecution.analyzed
      .collectWithSubqueries { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.rootPaths }.flatten
    require(!read.exists(within), s"cannot overwrite $path: the frame reads from it")
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

  /** Zone hand-off: write `df` to `path` and return the written copy, read
    * back with the writer's schema. The read-back starts no Spark job (no
    * footer inference), and the next zone's plans scan the written parquet
    * instead of recomputing `df`.
    *
    * When `df`'s analyzed plan is an unchanged scan of an earlier
    * read-back — the relation alone, or under a `Project` of exactly its
    * output — its files already hold `df`'s rows and columns, so they are
    * copied into `path` (file names kept, `_SUCCESS` last) through the
    * Hadoop FileSystems of the two paths, on the calling thread and with
    * no Spark job. That holds for silver (bronze's columns, in order) and
    * for `dim_playlists` (a passthrough of `stg_playlists`). Every other
    * frame is written by [[writeParquet]]: any other plan, a partitioned or
    * bucketed relation, a scan this method did not return (a read with a
    * narrowed schema may sit on wider files), or more than one file under
    * `singleFile`. Like every zone writer, it refuses a hand-off into a
    * path that `df` reads. */
  def materialize(df: DataFrame, path: String, singleFile: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    refuseOverwritingInput(df, path, conf)
    val dst = new Path(path)
    val dstFs = dst.getFileSystem(conf)
    unchangedHandOff(df.queryExecution.analyzed).map(_.inputFiles)
        .filter(!singleFile || _.length <= 1) match {
      case Some(files) =>
        dstFs.delete(dst, true)
        files.map(f => new Path(new java.net.URI(f))).foreach(f =>
          FileUtil.copy(f.getFileSystem(conf), f, dstFs, new Path(dst, f.getName), false, conf))
        dstFs.create(new Path(dst, "_SUCCESS"), true).close()
      case None => overwriteParquet(df, path, Nil, singleFile)
    }
    spark.read.option(HandOffOption, "true").schema(df.schema).parquet(path)
  }

  /** Reader option of a [[materialize]] read-back. It stays in the scan's
    * `HadoopFsRelation.options`, and says that the files hold exactly the
    * columns the scan was read with. */
  private val HandOffOption = "graft.zone.handoff"

  /** The relation of a read-back that `plan` scans unchanged. */
  private def unchangedHandOff(plan: LogicalPlan): Option[HadoopFsRelation] = {
    val scan = plan match {
      case l: LogicalRelation => Some(l)
      case Project(list, l: LogicalRelation) if list == l.output => Some(l)
      case _ => None
    }
    scan.map(_.relation).collect {
      case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] &&
          r.partitionSchema.isEmpty && r.bucketSpec.isEmpty &&
          r.options.get(HandOffOption).contains("true") => r
    }
  }

  /** Generic format surface (csv/orc/json/parquet interchange). CSV gets
    * headers; reads take an explicit schema — inference is never used on
    * production paths. */
  def write(df: DataFrame, path: String, format: String): Unit = {
    refuseOverwritingInput(df, path, df.sparkSession.sessionState.newHadoopConf())
    val w = df.write.mode(SaveMode.Overwrite)
    (if (format == "csv") w.option("header", "true") else w).format(format).save(path)
  }

  def read(spark: SparkSession, path: String, format: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val r = spark.read.schema(schema)
    (if (format == "csv") r.option("header", "true") else r).format(format).load(path)
  }
}
