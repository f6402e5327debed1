package graft.etl

import graft.GraftSession
import org.scalatest.funsuite.AnyFunSuite

/** A non-`file` Hadoop scheme backed by the local filesystem. Registered
  * as `fs.mockobj.impl`, it makes every zone writer resolve its
  * FileSystem FROM THE PATH URI — the exact mechanism s3a:// paths ride
  * — so parquet/json commits, listings and round-trips all execute
  * against a FileSystem instance that is NOT the default one. This
  * covers the scheme-resolution plumbing of the K4 object-store
  * contract; the NETWORK leg (real S3 semantics: eventual listing,
  * multipart upload, no rename) stays with the env-gated S3SmokeSpec —
  * this class deliberately does not pretend to reproduce those. */
class MockObjectFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockobj"
  override def getUri: java.net.URI = java.net.URI.create("mockobj:///")
}

/** K4 scheme transparency: the zone writers/readers must work verbatim
  * when the destination is a non-default-FileSystem URI. */
class SchemeTransparencySpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  test("zone IO runs against a non-default FileSystem resolved from the path") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.mockobj.impl",
      classOf[MockObjectFileSystem].getName)
    val tmp = java.nio.file.Files.createTempDirectory("mockobj").toString
    val base = s"mockobj://$tmp" // absolute local path ⇒ empty authority
    val df = Seq((1L, "a", 2.5), (2L, "b", 4.0), (3L, null, 0.0))
      .toDF("id", "name", "v")

    // K3/K4: partitioned parquet write + read back through the scheme
    Zones.writeParquet(df, s"$base/gold", partitionBy = Seq("name"))
    val back = Zones.readParquet(spark, s"$base/gold")
    assert(back.count() == 3)
    assert(back.select("id", "name", "v").exceptAll(df).count() == 0)

    // single-file parity variant commits through the same scheme
    Zones.writeParquet(df, s"$base/single", singleFile = true)
    assert(Zones.readParquet(spark, s"$base/single").count() == 3)

    // K1/K2: raw JSON landing
    Zones.write(df, s"$base/raw", "json")
    assert(spark.read.json(s"$base/raw").count() == 3)

    // a hand-off of an unchanged read-back copies its files: both
    // FileSystems are resolved from the paths
    val handedOff = Zones.materialize(df, s"$base/bronze")
    val copied = Zones.materialize(handedOff, s"$base/silver")
    assert(copied.exceptAll(df).count() == 0 && copied.count() == 3)
    def parts(zone: String) = new java.io.File(s"$tmp/$zone").listFiles()
      .filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    assert(parts("silver").nonEmpty && parts("silver") == parts("bronze"))
    assert(new java.io.File(s"$tmp/silver/_SUCCESS").isFile)

    // the resolved FileSystem really is the custom one, not the default
    val p = new org.apache.hadoop.fs.Path(s"$base/gold")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[MockObjectFileSystem], fs.getClass.getName)
  }
}
