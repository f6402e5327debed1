package graft.etl

import java.nio.file.Files

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** How the zone writers size their output. */
class ZonesSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft_zones").toString

  def parts(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).toSeq

  def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Runs `body` with `spark.sql.files.openCostInBytes` set to `bytes`,
    * then restores it. */
  def withOpenCost[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.openCostInBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a multi-file hand-off writes ceil(bytes / split) files, never more than its partitions") {
    val out = tmp()
    // a range frame keeps its 8 partitions: 8 files
    val back = Zones.materialize(
      spark.range(0, 4000, 1, 8).select(col("id"), (col("id") * 3).as("v")), s"$out/back")
    assert(parts(s"$out/back").size == 8)
    val bytes = parts(s"$out/back").map(_.length).sum
    val reordered = back.select("v", "id")
    // open cost just over half the bytes: the split is the open cost (it
    // exceeds bytes / 4 cores), so the 8 files' bytes make 2 splits, while
    // the scan of 8 files packs them into more partitions than that
    val open = bytes / 2 + 1
    val split = math.min(128L << 20, math.max(open, bytes / spark.sparkContext.defaultParallelism))
    val want = math.ceil(bytes.toDouble / split).toInt
    assert(want == 2)
    withOpenCost(open) {
      assert(reordered.rdd.getNumPartitions > want)
      val written = Zones.materialize(reordered, s"$out/sized")
      assert(parts(s"$out/sized").size == want)
      assert(rows(written) == rows(reordered))
      // a frame that ends in the caller's own coalesce or repartition
      // (under a filter or projection) keeps its partitions
      Zones.writeParquet(reordered.coalesce(1).filter(col("id") >= 0), s"$out/one")
      assert(parts(s"$out/one").size == 1)
    }
    // at the default open cost (4 MB) the bytes are one split
    Zones.materialize(reordered, s"$out/default")
    assert(parts(s"$out/default").size == 1)
  }

  test("a spark.range frame keeps its partitions; local rows are sized by their bytes") {
    val out = tmp()
    Zones.writeParquet(spark.range(0, 100, 1, 6).toDF("id"), s"$out/range")
    assert(parts(s"$out/range").size == 6)
    val local = spark.createDataFrame(
      (1 to 10).map(i => (i.toLong, s"row $i"))).toDF("id", "name")
    assert(local.rdd.getNumPartitions > 1)
    Zones.write(local, s"$out/local", "json")
    assert(parts(s"$out/local").size == 1)
    assert(spark.read.schema(local.schema).json(s"$out/local").count() == 10)
  }

  test("a frame that ends in the caller's repartition keeps its partitions") {
    val out = tmp()
    Zones.writeParquet(spark.range(0, 400, 1, 2).toDF("id"), s"$out/small")
    val small = spark.read.parquet(s"$out/small")
    // the small scan alone is one file
    Zones.writeParquet(small, s"$out/sized")
    assert(parts(s"$out/sized").size == 1)
    Zones.writeParquet(small.repartition(8).select(col("id") + 1), s"$out/round_robin")
    assert(parts(s"$out/round_robin").size == 8)
    // a repartition by the partition column before a partitioned write:
    // one file per output directory, written by the 3 shuffle tasks (a
    // coalesce on top would write all of them from one)
    val (_, byCol) = graft.tools.Probe(spark).measure(Zones.writeParquet(
      small.withColumn("p", col("id") % 3).repartition(3, col("p")),
      s"$out/by_col", partitionBy = Seq("p")))
    for (p <- 0 until 3) assert(parts(s"$out/by_col/p=$p").size == 1, p)
    assert(byCol.tasks == 2 + 3, s"${byCol.tasks} tasks: 2 scan tasks, then 3 shuffle tasks")
    assert(spark.read.parquet(s"$out/round_robin").count() == 400)
  }

  test("a relation without a size (Long.MaxValue) keeps the frame's partitions") {
    val out = tmp()
    val table = "zones_spec_unsized"
    spark.range(0, 400, 1, 4).withColumn("p", col("id") % 2)
      .write.partitionBy("p").option("path", s"$out/table").saveAsTable(table)
    try {
      // a partitioned catalog table without statistics reports
      // spark.sql.defaultSizeInBytes (Long.MaxValue) as its size
      val scan = spark.table(table)
      val sizes = scan.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
        .collect { case r: HadoopFsRelation => r.sizeInBytes }
      assert(sizes == Seq(Long.MaxValue))
      val n = scan.rdd.getNumPartitions
      assert(n > 1)
      Zones.writeParquet(scan, s"$out/one")
      assert(parts(s"$out/one").size == n)
      // two of them: the summed size must not wrap
      Zones.writeParquet(scan.unionByName(scan), s"$out/two")
      assert(parts(s"$out/two").size == 2 * n)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
