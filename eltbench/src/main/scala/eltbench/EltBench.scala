package eltbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Bronze, Gold, Pipeline, Silver, Zones}

/** The playlist ELT workloads: raw playlist JSON → bronze → silver → gold,
  * one `Pipeline.run` per operation, in one closed-loop client.
  *
  * Each run does a fixed amount of work: one cold pass (the first in a fresh
  * JVM), then a fixed number of timed passes. There is no separate warm-up:
  * pass times on `elt_day` keep falling for about 16 passes, more than one
  * run can afford, so the timed passes are simply passes 2..n+1 of the JVM
  * on every commit. Between passes, outside every timer, the run clears the
  * warehouse, releases the engine's op caches, waits for asynchronous
  * unpersist, runs a full GC and drains the listener bus.
  *
  * The traced run alternates untraced `Pipeline.run` passes with traced
  * passes. A traced pass makes the same calls `Pipeline.run` makes, in the
  * same order, through the public functions of `graft.etl`, each wrapped in
  * a span and a Spark job group; its gold output must digest-equal
  * `Pipeline.run`'s.
  */
object EltBench {

  final case class Shape(playlists: Int, tracksPerPlaylist: Int, playlistsPerFile: Int)

  val workloads: Map[String, Shape] = Map(
    // the reference's daily volume: 3 playlists x 50 tracks, one file each
    "elt_day" -> Shape(3, 50, 1),
    // a backfill: 600 playlists x 50 tracks in 12 files of 50 playlists; its
    // size is bounded by the run budget (two workloads in under an hour)
    "elt_backfill" -> Shape(600, 50, 50))

  def run(spark: SparkSession, session: Session, workload: String, seed: Long,
      timedPasses: Int, traced: Boolean, work: File, spansOut: File): Result = {
    val shape = workloads(workload)
    val sc = spark.sparkContext
    val probe = new Probe(sc)
    val tracer = new Tracer
    val rawDir = new File(work, "raw")
    val wh = new File(work, "warehouse")
    Dirs.delete(rawDir)
    val exp = PlaylistGen.write(seed, shape.playlists, shape.tracksPerPlaylist,
      shape.playlistsPerFile, rawDir)
    val raw = rawDir.getAbsolutePath
    val res = new Result
    res.note(s"raw: ${exp.files} files, ${exp.rawBytes} bytes, ${exp.playlists} playlists, " +
      s"${exp.items} items, ${exp.artistRows} artist rows, ${exp.factRows} joinable")

    /** Outside every timer: empty warehouse, no cached frames, quiet bus. */
    def reset(): Unit = {
      Dirs.delete(wh)
      res.releaseS += Release.all(sc)
      System.gc()
      probe.drain()
    }

    // engine CPU seconds per untraced pass: the calling thread plus every
    // task the pass ran (JIT and GC threads excluded)
    val cpu = ArrayBuffer.empty[(String, Double)]
    def untracedPass(kind: String): Option[Double] = {
      reset()
      val (d0, t0) = (threadCpuS(), probe.total(_ == "").cpuNs)
      val out = res.attempt(kind)(seconds(Pipeline.run(spark, raw, wh.getAbsolutePath)))
      val d1 = threadCpuS()
      probe.drain()
      if (out.isDefined) cpu += ((kind, d1 - d0 + (probe.total(_ == "").cpuNs - t0) / 1e9))
      out
    }

    var passNo = 0
    def tracedPass(): Option[Double] = {
      reset()
      passNo += 1
      val op = s"p$passNo"
      val out = res.attempt("traced") {
        seconds(tracer.span("etl.pass", op)(staged(spark, raw, wh.getAbsolutePath, op, tracer)))
      }
      probe.drain()
      out.foreach(_ => res.layers += layerMetrics(op, probe, tracer, exp, wh))
      out
    }

    val cold = untracedPass("cold")
    // The last pass is untraced; the last traced pass's gold is kept for the
    // mirror check.
    val timed = ArrayBuffer.empty[Option[Double]]
    val tracedTimes = ArrayBuffer.empty[Option[Double]]
    var tracedGold = Map.empty[String, (Long, BigDecimal)]
    val order = interleave(timedPasses, traced)
    val lastTraced = order.lastIndexOf(true)
    order.zipWithIndex.foreach { case (isTraced, i) =>
      if (isTraced) {
        tracedTimes += tracedPass()
        if (i == lastTraced) tracedGold = Probe.inGroup(sc, CheckGroup)(goldDigests(spark, wh))
      } else timed += untracedPass("timed")
    }
    // The last pass was Pipeline.run and left its zones in place.
    val zone = Dirs.parquetStats(wh, Seq("bronze", "silver", "gold"))
    checkConservation(spark, wh, exp, res)
    res.attempt("check:digests")(seconds(Probe.inGroup(sc, CheckGroup) {
      val viaRun = goldDigests(spark, wh)
      val viaCompose = digests(Pipeline.compose(spark, raw))
      def same(name: String, other: Map[String, (Long, BigDecimal)]): Unit = {
        val diff = viaRun.keySet.union(other.keySet).filter(t => viaRun.get(t) != other.get(t))
        res.check(name, diff.isEmpty,
          if (diff.isEmpty) s"${viaRun.size} tables" else s"differs on ${diff.toSeq.sorted.mkString(",")}")
      }
      same("gold digest of Pipeline.run equals Pipeline.compose", viaCompose)
      if (traced) same("gold digest of Pipeline.run equals the traced pass", tracedGold)
    }))
    val composeS = if (traced) composePass(spark, raw, wh, res, reset _) else Double.NaN

    probe.drain()
    val passes = probe.total(_ != CheckGroup)
    res.metric("cold_batch_s", "s", Stats.samples(Seq(cold)).head, 1, "first pass in a fresh JVM")
    val ts = Stats.samples(timed.toSeq)
    res.metric("batch_s", "s", Stats.median(ts), ts.length,
      s"median of ${ts.length} timed passes")
    def cpuMetric(name: String, kind: String, what: String): Unit = {
      val xs = cpu.collect { case (`kind`, c) => c }.toSeq
      res.metric(name, "s", if (xs.isEmpty) Double.PositiveInfinity else Stats.median(xs),
        xs.length, what)
    }
    cpuMetric("cold_batch_cpu_s", "cold", "engine CPU seconds (client thread + tasks) of the cold pass")
    cpuMetric("batch_cpu_s", "timed", "median engine CPU seconds of the timed passes")
    res.note("engine CPU per pass (s): " + cpu.map { case (k, c) => f"$k $c%.3f" }.mkString(", "))
    res.metric("peak_exec_mem_mb", "MB", passes.peakMem / 1e6, passes.tasks.toInt,
      "max task peakExecutionMemory over every pass")
    res.metric("zone_bytes_per_raw_byte", "ratio", zone.bytes.toDouble / exp.rawBytes, 1,
      s"${zone.bytes} parquet bytes in ${zone.files} files over ${exp.rawBytes} raw bytes")
    if (traced) {
      res.traceMetrics(res.layers.toSeq, session, timed.toSeq, tracedTimes.toSeq)
      res.metric("etl.compose_s", "s", composeS, 1,
        "Pipeline.compose with its 8 gold tables written, to compare with batch_s")
      tracer.writeJsonLines(spansOut)
    }
    res
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  def threadCpuS(): Double = threads.getCurrentThreadCpuTime / 1e9

  /** Which timed passes are traced: none in an untraced run; in a traced run
    * U T T U U T T U ..., so a drift in pass time hits both kinds alike,
    * with one more untraced pass if the pattern would end on a traced one. */
  def interleave(passes: Int, traced: Boolean): Seq[Boolean] = {
    val order = (0 until passes).map(k => traced && (k % 4 == 1 || k % 4 == 2))
    if (order.lastOption.contains(true)) order :+ false else order
  }

  /** Wall seconds of `body`. */
  def seconds(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `Pipeline.run`'s calls, one span and job group per layer call. */
  private def staged(spark: SparkSession, rawPath: String, wh: String, op: String,
      tr: Tracer): Unit = {
    val sc = spark.sparkContext
    def group[T](layer: String)(body: => T): T = Probe.inGroup(sc, s"$op/$layer")(body)
    def write(parent: String, zone: String, tables: Map[String, DataFrame]): Unit =
      tables.foreach { case (t, df) =>
        val fact = t == "fact_playlist_tracks"
        def w(): Unit = tr.span("etl.zones.write", op, Some(if (fact) "etl.gold.fact" else parent)) {
          Zones.writeParquet(df, s"$wh/$zone/$t")
        }
        if (fact) tr.span("etl.gold.fact", op, Some(parent))(w()) else w()
      }
    def read(zone: String, tables: Iterable[String]): Map[String, DataFrame] =
      group("read") {
        tables.map(t => t -> tr.span("etl.zones.read", op, Some("etl.pass")) {
          Zones.readParquet(spark, s"$wh/$zone/$t")
        }).toMap
      }
    val bronze = group("bronze") {
      tr.span("etl.bronze", op, Some("etl.pass")) {
        val b = Bronze.shred(Bronze.readRaw(spark, rawPath))
        write("etl.bronze", "bronze", b)
        b
      }
    }
    val bronzeRead = read("bronze", bronze.keys)
    val silver = group("silver") {
      tr.span("etl.silver", op, Some("etl.pass")) {
        val s = Silver.projectAll(bronzeRead)
        write("etl.silver", "silver", s)
        s
      }
    }
    val silverRead = read("silver", silver.keys)
    val gold = group("gold") {
      tr.span("etl.gold", op, Some("etl.pass")) {
        val g = Gold.build(silverRead)
        write("etl.gold", "gold", g)
        g
      }
    }
    read("gold", gold.keys)
  }

  private def layerMetrics(op: String, probe: Probe, tr: Tracer, exp: Expected,
      wh: File): Map[String, (Double, String)] = {
    val zone = Dirs.parquetStats(wh, Seq("bronze", "silver", "gold"))
    val bronzeInput = probe.total(_ == s"$op/bronze").inputBytes
    SparkLayer.metrics(probe.total(_.startsWith(s"$op/")), tr.seconds(op, "etl.pass")) ++ Map(
      "etl.bronze_s" -> ((tr.seconds(op, "etl.bronze"), "s")),
      "etl.silver_s" -> ((tr.seconds(op, "etl.silver"), "s")),
      "etl.gold_s" -> ((tr.seconds(op, "etl.gold"), "s")),
      "etl.gold.fact_s" -> ((tr.seconds(op, "etl.gold.fact"), "s")),
      "etl.zones.writes" -> ((tr.count(op, "etl.zones.write").toDouble, "count")),
      "etl.zones.write_s" -> ((tr.seconds(op, "etl.zones.write"), "s")),
      "etl.zones.read_s" -> ((tr.seconds(op, "etl.zones.read"), "s")),
      "etl.zones.mb_written" -> ((zone.bytes / 1e6, "MB")),
      "etl.zones.files" -> ((zone.files.toDouble, "count")),
      "etl.bronze.raw_scans" -> ((bronzeInput.toDouble / exp.rawBytes, "ratio")))
  }

  /** Once per traced run: the one-plan variant writing the same gold zone. */
  private def composePass(spark: SparkSession, raw: String, wh: File, res: Result,
      reset: () => Unit): Double = {
    reset()
    res.attempt("compose")(seconds {
      Pipeline.compose(spark, raw).foreach { case (t, df) =>
        Zones.writeParquet(df, s"${wh.getAbsolutePath}/gold/$t")
      }
    }).getOrElse(Double.PositiveInfinity)
  }

  // ---- correctness ----

  /** Checks run in their own job group, so their Spark work is kept apart
    * from the passes'. */
  val CheckGroup = "check"

  /** Order-independent (rows, hash sum) of each frame, in one Spark query. */
  def digests(frames: Map[String, DataFrame]): Map[String, (Long, BigDecimal)] = {
    val hashed = frames.toSeq.map { case (t, df) =>
      df.select(lit(t).as("t"),
        xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*).cast("decimal(38,0)").as("h"))
    }
    val got = hashed.reduce(_ unionByName _).groupBy("t").agg(count(lit(1)), sum("h"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    // a table with no rows has no group
    frames.keys.map(t => t -> got.getOrElse(t, (0L, BigDecimal(0)))).toMap
  }

  private def goldDigests(spark: SparkSession, wh: File): Map[String, (Long, BigDecimal)] =
    digests(new File(wh, "gold").list().toSeq.map(t =>
      t -> Zones.readParquet(spark, s"${wh.getAbsolutePath}/gold/$t")).toMap)

  /** Zone-to-zone conservation of the pass that last wrote `wh`, in one
    * Spark query: (rows, non-null keys, distinct keys) per table. */
  private def checkConservation(spark: SparkSession, wh: File, exp: Expected, res: Result): Unit =
    res.attempt("check:conservation")(seconds(Probe.inGroup(spark.sparkContext, CheckGroup) {
      val nullRow = if (exp.nullAlbums > 0) 1L else 0L
      val (pl, al, ar) = (exp.playlists.toLong, exp.distinctAlbums.toLong, exp.distinctArtists.toLong)
      // table -> (key column, expected counts, what the counts mean)
      val want = Seq(
        "bronze/playlists" -> ("id", (pl, pl, pl), "bronze playlists = raw playlists"),
        "bronze/tracks" -> ("track_id", (exp.items, exp.items, exp.items), "bronze tracks = raw items"),
        "bronze/albums" -> ("track_id", (exp.items, exp.items, exp.items), "bronze albums = raw items"),
        "bronze/artists" -> ("track_id", (exp.artistRows, exp.artistRows, -1L),
          "bronze artists = summed artist-array lengths"),
        "gold/fact_playlist_tracks" -> ("album_release_date", (exp.factRows, exp.factRows, -1L),
          "fact rows = joinable tracks, every release date (4/7/10 chars) normalized"),
        "gold/dim_playlists" -> ("playlist_id", (pl, pl, pl), "dim_playlists distinct on playlist_id"),
        "gold/dim_albums" -> ("album_id", (al + nullRow, al, al), "dim_albums distinct on album_id"),
        "gold/dim_artists" -> ("artist_id", (ar, ar, ar), "dim_artists distinct on artist_id"))
      val got = want.map { case (t, (key, _, _)) =>
        Zones.readParquet(spark, s"${wh.getAbsolutePath}/$t")
          .select(lit(t).as("t"), col(key).cast("string").as("k"))
      }.reduce(_ unionByName _)
        .groupBy("t").agg(count(lit(1)), count(col("k")), countDistinct(col("k")))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      want.foreach { case (t, (_, w, name)) =>
        val g = got.getOrElse(t, (0L, 0L, 0L))
        // -1: that count is not checked
        val ok = g.productIterator.zip(w.productIterator).forall { case (x, y) => y == -1L || x == y }
        res.check(name, ok, s"$t got $g, want $w")
      }
    }))
}
