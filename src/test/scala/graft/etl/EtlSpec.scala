package graft.etl

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The local filesystem under the `failzone` scheme, except that it
  * refuses to create any directory whose path contains the fragment in
  * the Hadoop conf key [[FailingZoneFileSystem.Refuse]] (e.g.
  * `/bronze/tracks`): a zone hand-off that fails partway through a pass. */
class FailingZoneFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "failzone"
  override def getUri: java.net.URI = java.net.URI.create("failzone:///")
  override def mkdirs(f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission): Boolean = {
    val refused = getConf.get(FailingZoneFileSystem.Refuse, "")
    if (refused.nonEmpty && f.toUri.getPath.contains(refused))
      throw new java.io.IOException(s"refused: $f")
    else super.mkdirs(f, permission)
  }
  override def mkdirs(f: org.apache.hadoop.fs.Path): Boolean =
    mkdirs(f, org.apache.hadoop.fs.permission.FsPermission.getDirDefault)
}

object FailingZoneFileSystem {
  val Refuse = "graft.test.failzone.refuse"
}

/** Golden-path + edge-case tests for the playlist ETL (SURVEY.md §5.2).
  *
  * The fixture is a synthetic 2-playlist document covering every edge the
  * reference's data exercises (FIXTURES.md §1): missing description,
  * missing explicit, multi-artist tracks, null album, empty artists,
  * year/month/day release-date precisions.
  */
class EtlSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  def fixtureJson: String =
    """[
      |  {
      |    "id": "pl1", "name": "Playlist One", "description": "desc one",
      |    "public": true,
      |    "owner": {"id": "owner1"}, "followers": {"total": 123},
      |    "tracks": {"total": 3, "items": [
      |      {"added_at": "2024-04-22T11:06:52Z", "is_local": false, "track": {
      |        "id": "t1", "name": "Track One", "duration_ms": 228965,
      |        "popularity": 88, "explicit": false, "track_number": 1,
      |        "album": {"id": "al1", "name": "Album One",
      |          "release_date": "2024-04-18", "release_date_precision": "day",
      |          "total_tracks": 10},
      |        "artists": [{"id": "ar1", "name": "Artist One"},
      |                    {"id": "ar2", "name": "Artist Two"}]
      |      }},
      |      {"track": {
      |        "id": "t2", "name": "Track Two", "duration_ms": 100000,
      |        "popularity": 50, "track_number": 2,
      |        "album": {"id": "al2", "name": "Album Two",
      |          "release_date": "2024-03", "release_date_precision": "month",
      |          "total_tracks": 5},
      |        "artists": [{"id": "ar1", "name": "Artist One"}]
      |      }},
      |      {"track": {
      |        "id": "t3", "name": "Track Three", "duration_ms": 50000,
      |        "popularity": 10, "explicit": true, "track_number": 3,
      |        "album": {"id": "al3", "name": "Album Three",
      |          "release_date": "1999", "release_date_precision": "year",
      |          "total_tracks": 1},
      |        "artists": []
      |      }}
      |    ]}
      |  },
      |  {
      |    "id": "pl2", "name": "Playlist Two",
      |    "public": false,
      |    "owner": {"id": "owner2"}, "followers": {"total": 7},
      |    "tracks": {"total": 1, "items": [
      |      {"track": {
      |        "id": "t1", "name": "Track One", "duration_ms": 228965,
      |        "popularity": 88, "explicit": false, "track_number": 1,
      |        "album": {"id": "al1", "name": "Album One",
      |          "release_date": "2024-04-18", "release_date_precision": "day",
      |          "total_tracks": 10},
      |        "artists": [{"id": "ar1", "name": "Artist One"}]
      |      }},
      |      {"track": {
      |        "id": "t4", "name": "No Album", "duration_ms": 1000,
      |        "popularity": 1, "track_number": 2,
      |        "album": null,
      |        "artists": [{"id": "ar3", "name": "Artist Three"}]
      |      }}
      |    ]}
      |  }
      |]""".stripMargin

  lazy val rawPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_raw")
    val f = dir.resolve("playlists.json")
    java.nio.file.Files.writeString(f, fixtureJson)
    f.toString
  }

  /** The fixture's two playlists, one raw file each: the shape of a daily
    * landing, one file per fetched playlist. */
  lazy val rawSplitPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_raw_split")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    json.readTree(fixtureJson).elements().asScala.zipWithIndex.foreach { case (pl, i) =>
      java.nio.file.Files.writeString(dir.resolve(s"playlist-$i.json"),
        json.writeValueAsString(json.createArrayNode().add(pl)))
    }
    dir.toString
  }

  lazy val raw = Bronze.readRaw(spark, rawPath)
  lazy val bronze = Bronze.shred(raw)
  lazy val gold = Gold.build(Silver.projectAll(bronze))

  test("bronze playlists: one row per playlist, all-string, defaults applied") {
    val rows = bronze("playlists").orderBy("id").collect()
    assert(rows.length == 2)
    assert(bronze("playlists").schema.fields.forall(_.dataType.typeName == "string"))
    val pl1 = rows(0)
    assert(pl1.getString(0) == "pl1")
    assert(pl1.getString(2) == "desc one")
    assert(pl1.getString(4) == "123")
    assert(pl1.getString(5) == "true") // lowercase boolean serialization
    val pl2 = rows(1)
    assert(pl2.getString(2) == "") // missing description → ""
    assert(pl2.getString(5) == "false")
  }

  test("bronze tracks: one row per (playlist, position); first-artist-only; explicit default") {
    val t = bronze("tracks")
    assert(t.count() == 5)
    val t2 = t.filter(col("track_id") === "t2").head()
    assert(t2.getAs[String]("explicit") == "false") // missing explicit → false
    assert(t2.getAs[String]("artist_id") == "ar1")
    val t1 = t.filter(col("track_id") === "t1" && col("playlist_id") === "pl1").head()
    assert(t1.getAs[String]("artist_id") == "ar1") // first artist only (N4)
    val t3 = t.filter(col("track_id") === "t3").head()
    assert(t3.getAs[String]("artist_id") == null) // empty artists → null key
    val t4 = t.filter(col("track_id") === "t4").head()
    assert(t4.getAs[String]("album_id") == null) // null album → null key
  }

  test("bronze albums: one row per track incl. null-album row") {
    assert(bronze("albums").count() == 5)
    assert(bronze("albums").filter(col("album_id").isNull).count() == 1)
  }

  test("bronze artists: fully exploded (all artists, not just first)") {
    val a = bronze("artists")
    assert(a.count() == 5) // t1@pl1: ar1+ar2, t2: ar1, t3: none, t1@pl2: ar1, t4: ar3
    assert(a.filter(col("track_id") === "t1").count() == 3)
  }

  test("gold staging: typed casts + release-date normalization (F2)") {
    val st = gold("stg_tracks")
    assert(st.schema("album_release_date").dataType.typeName == "date")
    assert(st.schema("track_duration_ms").dataType.typeName == "integer")
    val dates = st.select("track_id", "album_release_date").collect()
      .map(r => r.getString(0) -> Option(r.getDate(1)).map(_.toString).orNull).toMap
    assert(dates("t2") == "2024-03-01") // month precision → first of month
    assert(dates("t3") == "1999-01-01") // year precision → Jan 1
    assert(dates("t4") == null)         // no album → null
  }

  test("gold dims: whole-row distinct") {
    assert(gold("dim_artists").count() == 3) // ar1, ar2, ar3
    assert(gold("dim_albums").count() == 4)  // al1..al3 + null-album row
  }

  test("gold fact: inner joins drop null-keyed tracks") {
    val fact = gold("fact_playlist_tracks")
    // t3 (no artist) and t4 (no album) drop; t1 ×2 playlists + t2 remain
    assert(fact.count() == 3)
    assert(fact.filter(col("track_id").isin("t3", "t4")).count() == 0)
    val cols = fact.columns.toSeq
    assert(cols == Seq("playlist_id", "track_id", "track_name", "track_number",
      "track_duration_ms", "track_popularity", "track_explicit",
      "album_release_date", "album_name", "album_id", "artist_name", "artist_id"))
  }

  test("append-accumulate semantics (U1): re-shred unions by name") {
    val twice = bronze("tracks").unionByName(bronze("tracks"))
    assert(twice.count() == 10) // duplicates preserved — reference re-run behavior
  }

  test("permissive raw read quarantines malformed documents (S3 parity)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt")
    java.nio.file.Files.writeString(dir.resolve("good.json"), fixtureJson)
    java.nio.file.Files.writeString(dir.resolve("bad.json"), "{not json at all")
    // caching is required before filtering on only _corrupt_record
    // (Spark disallows corrupt-record-only queries on the raw scan)
    val df = Bronze.readRawPermissive(spark, dir.toString).cache()
    val bad = df.filter(col("_corrupt_record").isNotNull)
    val good = df.filter(col("_corrupt_record").isNull)
    assert(bad.count() == 1)
    assert(good.count() == 2) // the two fixture playlists
    // and the strict reader still shreds the good subset identically
    assert(Bronze.tracks(good.drop("_corrupt_record")).count() == 5)
  }

  // ------------------------------------------------- run's zone hand-offs

  /** Order-independent (rows, xxhash64 sum) of a frame. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Jobs started while `body` runs. */
  def jobsOf[A](body: => A): (A, Long) = {
    val (a, counters) = graft.tools.Probe(spark).measure(body)
    (a, counters.jobs)
  }

  def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("materializing pipeline writes all three zones") {
    val out = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val viaRun = Pipeline.run(spark, rawPath, out, singleFile = true)
    assert(viaRun("fact_playlist_tracks").count() == 3)
    // gold equals compose's: rows, order-independent hash and schema
    val viaCompose = Pipeline.compose(spark, rawPath)
    assert(viaRun.keySet == viaCompose.keySet)
    assert(viaRun.size == 8)
    // parquet makes every column nullable on write; compose keeps the
    // coalesced playlist_description non-nullable, and that is the only
    // nullability the two paths disagree on
    def nullable(s: StructType) = StructType(s.fields.map(_.copy(nullable = true)))
    val nullabilityDiffers = for {
      (t, c) <- viaCompose.toSeq
      f <- c.schema.fields if viaRun(t).schema(f.name).nullable != f.nullable
    } yield (t, f.name)
    assert(nullabilityDiffers.sorted == Seq(
      "dim_playlists" -> "playlist_description", "stg_playlists" -> "playlist_description"))
    viaCompose.foreach { case (t, c) =>
      assert(viaRun(t).schema == nullable(c.schema), s"$t schema")
      assert(viaRun(t).schema == Zones.readParquet(spark, s"$out/gold/$t").schema,
        s"$t schema, nullability included, equals the written file's")
      assert(digest(viaRun(t)) == digest(c), s"$t rows")
    }
    val tables = Silver.columns.keys.toSeq.flatMap(t => Seq(s"bronze/$t", s"silver/$t")) ++
      viaCompose.keys.map(t => s"gold/$t")
    assert(tables.size == 16)
    tables.foreach(t => assert(new java.io.File(s"$out/$t/_SUCCESS").isFile, t))
    // silver and dim_playlists scan their inputs unchanged: their files are
    // copies, names included
    Silver.columns.keys.foreach { t =>
      assert(partFiles(s"$out/silver/$t") == partFiles(s"$out/bronze/$t"), s"silver/$t")
    }
    assert(partFiles(s"$out/gold/dim_playlists") == partFiles(s"$out/gold/stg_playlists"))
  }

  /** The part files of a zone directory: name -> bytes. */
  def partFiles(dir: String): Map[String, Seq[Byte]] = {
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty, s"$dir has no part files")
    parts.map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
  }

  test("materialize copies only an unchanged scan of a hand-off") {
    val out = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val back = Zones.materialize(
      spark.range(0, 40, 1, 4).select(col("id"), (col("id") * 2).as("v")), s"$out/back")
    assert(partFiles(s"$out/back").size == 4)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    // a reordered, subset or cast projection is a new table: it is written
    for ((name, df) <- Seq("reordered" -> back.select("v", "id"), "subset" -> back.select("v"),
        "cast" -> back.select(col("id"), col("v").cast("string").as("v")))) {
      val (m, jobs) = jobsOf(Zones.materialize(df, s"$out/$name"))
      assert(jobs > 0, s"$name must be written")
      assert(m.schema == df.schema && rows(m) == rows(df), name)
      assert(Zones.readParquet(spark, s"$out/$name").schema == df.schema, name)
    }
    // a read with a narrowed schema over wider files is written: a copy
    // would carry the dropped column
    val narrow = spark.read.schema("v long").parquet(s"$out/back")
    val (_, narrowJobs) = jobsOf(Zones.materialize(narrow, s"$out/narrow"))
    assert(narrowJobs > 0)
    assert(Zones.readParquet(spark, s"$out/narrow").schema == narrow.schema)
    // a single-file hand-off of a multi-file scan coalesces
    val single = Zones.materialize(back, s"$out/single", singleFile = true)
    assert(partFiles(s"$out/single").size == 1)
    assert(rows(single) == rows(back))
    // a hand-off into the path it reads is refused, copied or written;
    // the files stay
    val before = partFiles(s"$out/back")
    for (df <- Seq(back, back.select("v")))
      intercept[IllegalArgumentException](Zones.materialize(df, s"$out/back"))
    assert(partFiles(s"$out/back") == before)
    assert(new java.io.File(s"$out/back/_SUCCESS").isFile)
  }

  test("zone writers refuse to overwrite what they read") {
    val out = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val rows = spark.range(0, 40, 1, 4).select(col("id"), (col("id") * 2).as("v"))
    Zones.writeParquet(rows, s"$out/parquet")
    Zones.write(rows, s"$out/csv", "csv")
    Zones.write(rows, s"$out/json", "json")
    val cases = Seq[(String, () => Unit)](
      "parquet" -> (() => Zones.writeParquet(spark.read.parquet(s"$out/parquet"), s"$out/parquet")),
      "csv" -> (() => Zones.write(Zones.read(spark, s"$out/csv", "csv", rows.schema),
        s"$out/csv", "csv")),
      "json" -> (() => Zones.write(spark.read.schema(rows.schema).json(s"$out/json"),
        s"$out/json", "json")))
    for ((dir, overwrite) <- cases) {
      val before = partFiles(s"$out/$dir")
      intercept[IllegalArgumentException](overwrite())
      assert(partFiles(s"$out/$dir") == before, dir)
    }
  }

  test("src/main writes DataFrames to paths only through the zone writers") {
    // any other parquet or mode(…) write skips the writers' refusal to
    // overwrite what the frame reads; Verify's result dump writes fresh
    // output paths, and noop writes (measurement) write nothing
    val allowed = Set("src/main/scala/graft/etl/Zones.scala", "src/main/scala/graft/Verify.scala")
    val write = """\.write(\.|\s*$)|\.mode\(""".r
    val sources = graft.SourceFiles.scala("src/main/scala")
    assert(sources.exists(_._1 == "src/main/scala/graft/etl/Zones.scala"))
    val offenders = for {
      (p, text) <- sources if !allowed(p)
      (line, i) <- text.split("\n", -1).toSeq.zipWithIndex
      if write.findFirstIn(line).isDefined && !line.contains("\"noop\"")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("run starts one job per zone write plus the dim shuffles and fact broadcasts; " +
      "hand-off reads start none") {
    val out = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val (_, jobs) = jobsOf(Pipeline.run(spark, rawPath, s"$out/wh"))
    // 11 zone writes + 2 shuffle map stages (the dims' distinct) + 2
    // broadcasts (the written dims, into the fact join) = 15. The other 5
    // hand-offs (the four silver tables, dim_playlists) scan an earlier
    // hand-off unchanged and copy its files. Writing them made it 20;
    // inferring each read-back's schema from its footer and recomputing
    // both dims for the fact made it 38.
    assert(jobs <= 15, s"Pipeline.run started $jobs jobs")
    val df = spark.range(10).toDF("id")
    val (_, writeJobs) = jobsOf(Zones.writeParquet(df, s"$out/w"))
    val (back, materializeJobs) = jobsOf(Zones.materialize(df, s"$out/m"))
    assert(materializeJobs == writeJobs, "the read-back must not start a job")
    assert(back.schema == Zones.readParquet(spark, s"$out/m").schema)
    assert(back.count() == 10)
    val (_, copyJobs) = jobsOf(Zones.materialize(back, s"$out/c"))
    assert(copyJobs == 0, "a copied hand-off must not start a job")
  }

  test("run writes one part file per table from a multi-file raw landing, in 15 tasks") {
    val out = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val (gold, counters) = graft.tools.Probe(spark).measure(Pipeline.run(spark, rawSplitPath, out))
    assert(gold("fact_playlist_tracks").count() == 3)
    // each table's bytes fit one file split, so every write is one task
    // and one file. Writing one file per upstream partition made it 2
    // files in 14 of the 16 tables (all but the two shuffled dims) and 26
    // tasks, in the same 15 jobs.
    val tables = Silver.columns.keys.toSeq.flatMap(t => Seq(s"bronze/$t", s"silver/$t")) ++
      gold.keys.map(t => s"gold/$t")
    assert(tables.size == 16)
    tables.foreach(t => assert(partFiles(s"$out/$t").size == 1, t))
    assert(counters.jobs <= 15, s"Pipeline.run started ${counters.jobs} jobs")
    assert(counters.tasks <= 15, s"Pipeline.run ran ${counters.tasks} tasks")
  }

  test("run releases its raw cache and leaves a caller's cache in place") {
    val before = persistedRdds
    Pipeline.run(spark, rawPath, java.nio.file.Files.createTempDirectory("graft_wh").toString)
    assert(persistedRdds == before)
    assert(Bronze.readRaw(spark, rawPath).storageLevel == StorageLevel.NONE)

    val cached = Bronze.readRaw(spark, rawPath).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      cached.count()
      val withCaller = persistedRdds
      Pipeline.run(spark, rawPath, java.nio.file.Files.createTempDirectory("graft_wh").toString)
      assert(persistedRdds == withCaller)
      assert(cached.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally cached.unpersist(blocking = true)
  }

  test("run releases its raw cache when a zone write throws") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failzone.impl", classOf[FailingZoneFileSystem].getName)
    // a fresh instance per lookup, so each case's refused fragment applies
    conf.setBoolean("fs.failzone.impl.disable.cache", true)
    val file = java.nio.file.Files.createTempFile("graft_wh", ".txt").toString
    val bronzeDir = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val silverDir = java.nio.file.Files.createTempDirectory("graft_wh").toString
    // the first bronze write fails before any task runs; bronze/tracks
    // fails after the playlists write has filled the raw cache;
    // silver/tracks fails in a copied hand-off, after the cache is released
    try for ((wh, refused) <- Seq(s"$file/wh" -> "/bronze/tracks",
        s"failzone://$bronzeDir" -> "/bronze/tracks", s"failzone://$silverDir" -> "/silver/tracks")) {
      conf.set(FailingZoneFileSystem.Refuse, refused)
      val before = persistedRdds
      intercept[Exception](Pipeline.run(spark, rawPath, wh))
      assert(persistedRdds == before, wh)
      assert(Bronze.readRaw(spark, rawPath).storageLevel == StorageLevel.NONE, wh)
    } finally conf.unset(FailingZoneFileSystem.Refuse)
    assert(new java.io.File(s"$bronzeDir/bronze/playlists/_SUCCESS").isFile)
    assert(!new java.io.File(s"$bronzeDir/bronze/tracks").exists())
    assert(new java.io.File(s"$silverDir/bronze/tracks/_SUCCESS").isFile)
    assert(!new java.io.File(s"$silverDir/silver/tracks/_SUCCESS").exists())
  }

  // ------------------------------------------------------- golden-file E2E

  /** Row-for-row diff against the reference's CHECKED-IN artifacts
    * (SURVEY §5.2-1): the real Top-50 playlist snapshot shredded by OUR
    * bronze must equal the reference's own bronze parquet byte-for-byte on
    * values — the one true parity witness for N2–N8 (defaults, first-artist
    * fact key, 65-vs-50 artist cardinality, stringly bronze regime). */
  test("golden E2E: reference raw snapshot → bronze/silver equals reference parquet") {
    val refData = "/root/reference/data"
    val rawJson =
      s"$refData/raw/playlist_37i9dQZEVXbMDoHDwVN2tF_si=e8e1e56d145e4f9b_20.json"
    assume(new java.io.File(rawJson).exists(), "reference snapshot not present")

    def rowsOf(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Seq[Seq[String]] =
      df.select(cols.map(col): _*).collect()
        .map(r => cols.indices.map(i => if (r.isNullAt(i)) "∅" else r.getString(i)))
        .toSeq.sortBy(_.mkString(""))

    val raw = Bronze.readRaw(spark, rawJson)
    val ourBronze = Bronze.shred(raw)
    val ourSilver = Silver.projectAll(ourBronze)

    for ((table, ours) <- Seq(
        ("playlists", 1), ("tracks", 50), ("albums", 50), ("artists", 65))) {
      val cols = Silver.columns(table)
      for ((zone, zoneFrames) <- Seq("bronze" -> ourBronze, "silver" -> ourSilver)) {
        val expected = spark.read.parquet(s"$refData/$zone/$table.parquet")
        assert(expected.columns.toSeq == cols, s"$zone/$table column order")
        val exp = rowsOf(expected, cols)
        val got = rowsOf(zoneFrames(table), cols)
        assert(got.size == ours, s"$zone/$table row count")
        assert(got == exp, s"$zone/$table rows differ from reference artifact")
      }
    }
  }
}
