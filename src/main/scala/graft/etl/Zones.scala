package graft.etl

import scala.annotation.tailrec

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LocalRelation, LogicalPlan,
  Project, RebalancePartitions, RepartitionOperation}
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Storage-zone IO (reference sinks K1–K7, SURVEY.md §2.2).
  *
  * The reference fans each stage out to local disk + S3 + MotherDuck; here
  * every zone is a path prefix (s3a:// or file://) and the warehouse role
  * is played by `saveAsTable` against the session catalog.
  *
  * Every writer sizes its output by the bytes the frame scans, not by the
  * partitions it arrives in: the frame is coalesced to the partition count
  * Spark's own file-split rule (`FilePartition.maxSplitBytes`: the same
  * `spark.sql.files.*` confs and default parallelism) gives those bytes
  * read as one file. The rule only lowers the count (`coalesce` never
  * raises it). A frame keeps its partitions when any leaf of its plan is
  * not a file scan or local rows, or when it ends (through projections
  * and filters) in the caller's own repartition, coalesce or rebalance.
  * A table whose scanned bytes fit one split (at most the open cost, 4 MB
  * by default) becomes one parquet file, as the reference's `COPY ... TO`
  * writes it, instead of one file per upstream input file. The count
  * follows the input bytes, not the output: a write whose output is much
  * larger than its input (a wide explode) runs in as few tasks as its
  * input would, unless the frame is repartitioned first. `singleFile`
  * (coalesce(1)) forces the reference's one-file layout whatever the
  * size, and serializes the write.
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
    val scanned = scannedBytes(df, path, df.sparkSession.sessionState.newHadoopConf())
    overwrite(df, path, "parquet", partitionBy, singleFile, scanned)
  }

  /** The one write path of the zone writers: `df`, coalesced to the
    * partitions of its `scanned` bytes (one under `singleFile`), replaces
    * `path`. */
  private def overwrite(df: DataFrame, path: String, format: String,
      partitionBy: Seq[String], singleFile: Boolean, scanned: Option[Long]): Unit = {
    val partitions = if (singleFile) Some(1)
      else if (repartitioned(df.queryExecution.analyzed)) None
      else scanned.map(filePartitions(df.sparkSession, _))
    val w = partitions.fold(df)(df.coalesce).write.mode(SaveMode.Overwrite)
    val header = if (format == "csv") w.option("header", "true") else w
    (if (partitionBy.nonEmpty) header.partitionBy(partitionBy: _*) else header)
      .format(format).save(path)
  }

  /** The partitions Spark's file scan splits `bytes` of one file into. */
  private def filePartitions(spark: SparkSession, bytes: Long): Int = {
    val split = FilePartition.maxSplitBytes(spark, bytes).max(1L)
    ((bytes - 1) / split + 1).min(Int.MaxValue).toInt
  }

  /** Whether `plan` ends in the caller's own repartition, coalesce or
    * rebalance. The writers' coalesce would otherwise override it: over a
    * coalesce the optimizer keeps the outer one (CollapseRepartition), and
    * over a shuffle the shuffle still runs and the write runs in the
    * coalesced tasks. */
  @tailrec private def repartitioned(plan: LogicalPlan): Boolean = plan match {
    case _: RepartitionOperation | _: RebalancePartitions => true
    case Project(_, child) => repartitioned(child)
    case Filter(_, child) => repartitioned(child)
    case _ => false
  }

  /** The bytes `df` scans: the summed size of its file relations and local
    * rows, or None when any leaf of its plan is something else. The sum
    * saturates at Long.MaxValue, the size a relation without statistics
    * reports (`spark.sql.defaultSizeInBytes`), so such a frame keeps its
    * partitions.
    *
    * The same walk refuses, before anything is deleted, to overwrite a path
    * that `df` reads or a directory above one: Spark's overwrite deletes
    * the input first and then fails to read it
    * (FAILED_READ_FILE.FILE_NOT_EXIST), and the data is lost. Every zone
    * writer calls it first. */
  private def scannedBytes(df: DataFrame, path: String, conf: Configuration): Option[Long] = {
    val dst = new Path(path)
    val target = dst.getFileSystem(conf).makeQualified(dst)
    def within(p: Path): Boolean = p != null && (p == target || within(p.getParent))
    val leaves = df.queryExecution.analyzed.collectWithSubqueries { case l: LeafNode => l }
    val files = leaves.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r }
    require(!files.flatMap(_.location.rootPaths).exists(within),
      s"cannot overwrite $path: the frame reads from it")
    val local = leaves.collect { case l: LocalRelation => l.computeStats().sizeInBytes.toLong }
    if (files.size + local.size < leaves.size) None
    else Some((files.map(_.sizeInBytes) ++ local).foldLeft(0L) { (sum, b) =>
      if (b >= Long.MaxValue - sum) Long.MaxValue else sum + b })
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
    val scanned = scannedBytes(df, path, conf)
    val dst = new Path(path)
    val dstFs = dst.getFileSystem(conf)
    unchangedHandOff(df.queryExecution.analyzed).map(_.inputFiles)
        .filter(!singleFile || _.length <= 1) match {
      case Some(files) =>
        dstFs.delete(dst, true)
        files.map(f => new Path(new java.net.URI(f))).foreach(f =>
          FileUtil.copy(f.getFileSystem(conf), f, dstFs, new Path(dst, f.getName), false, conf))
        dstFs.create(new Path(dst, "_SUCCESS"), true).close()
      case None => overwrite(df, path, "parquet", Nil, singleFile, scanned)
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
  def write(df: DataFrame, path: String, format: String): Unit =
    overwrite(df, path, format, Nil, singleFile = false,
      scannedBytes(df, path, df.sparkSession.sessionState.newHadoopConf()))

  def read(spark: SparkSession, path: String, format: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val r = spark.read.schema(schema)
    (if (format == "csv") r.option("header", "true") else r).format(format).load(path)
  }
}
