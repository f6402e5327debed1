package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles with BOUNDED reducer memory.
  *
  * Spark's `percentile` (like DuckDB's `quantile_cont`) is a
  * TypedImperativeAggregate that buffers EVERY group value on the
  * reducer — with few groups at 100 TB that is the whole column on a
  * handful of executors (the q32 memory contract). This operator computes
  * the SAME interpolated order statistic from a per-(group, value)
  * histogram instead:
  *
  *   1. `groupBy(group, value).count()` — partial map-side aggregation;
  *      shuffle rows ∝ DISTINCT values per group, never raw occurrences;
  *   2. cumulative counts over the value order within each group (a
  *      shard-by-group window — partition-parallel, state O(1) per row);
  *   3. the two order statistics bracketing each requested rank are read
  *      off the cumulative ranges, and the interpolation replicates
  *      Spark's own formula bit-for-bit:
  *      `(higher − pos)·lower + (pos − lower)·higher` with
  *      `pos = p·(n−1)` (`Percentile.getPercentile` — same expression,
  *      same double arithmetic, so the histogram path hash-matches the
  *      buffering path and the DuckDB oracle).
  *
  * The right tool when the value domain is DISCRETE (prices in cents,
  * quantities, scores, token counts — TPC-H `l_quantity` has 50 distinct
  * values): reducer state collapses from "every row" to "every distinct
  * value". For continuous high-cardinality domains distinct ≈ rows and
  * nothing is saved — there the bounded-error sketch
  * (`approx_percentile`, q52) is the scale path. Exactness has no
  * single-pass bounded-memory form on continuous domains; this is the
  * exact-AND-bounded option its discreteness buys.
  */
object ExactPercentile {

  /** Session conf key for the OPT-IN exact-percentile scale guard: when
    * set (a long), [[requireBoundedGroups]] enforces it before the
    * buffering path runs. Unset = current behavior, no extra scan. */
  val MaxGroupRowsKey = "spark.graft.percentile.maxGroupRows"

  /** Fail FAST when any group would buffer more than `maxGroupRows`
    * non-null values on a single reducer — the q32 memory contract turned
    * into a runtime guard, so the one plan this engine documents as
    * memory-`weak` cannot be run blind at scale. The check is one cheap
    * partial-aggregated count scan (shuffle ∝ groups); the error points
    * at the two scale-correct escapes. */
  def requireBoundedGroups(df: DataFrame, groupCol: String, valCol: String,
      maxGroupRows: Long): Unit = {
    val worst = df.filter(col(valCol).isNotNull)
      .groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).head()
    val m = if (worst.isNullAt(0)) 0L else worst.getLong(0)
    if (m > maxGroupRows) throw new IllegalStateException(
      s"exact percentile would buffer $m '$valCol' values of one " +
        s"'$groupCol' group on a single reducer (guard: $maxGroupRows). " +
        "Use ExactPercentile.byHistogram (exact, reducer state ∝ distinct " +
        "values — the q80 path) for discrete domains, or approx_percentile " +
        "(bounded sketch, q52) / DdSketch (mergeable, q85) for continuous ones.")
  }

  /** Apply [[requireBoundedGroups]] iff the session opted in via
    * [[MaxGroupRowsKey]]. */
  def guardFromConf(df: DataFrame, groupCol: String, valCol: String): Unit =
    df.sparkSession.conf.getOption(MaxGroupRowsKey)
      .foreach(v => requireBoundedGroups(df, groupCol, valCol, v.toLong))

  /** The histogram behind every form here: per (keys, value) the count
    * `__c` of the non-null values of `v` (as `__v`, a double), the
    * cumulative count `__cum` over the value order within the keys, and
    * the keys' total `__n`. */
  private def histogram(rows: DataFrame, keys: Seq[Column], v: Column): DataFrame =
    rows.filter(v.isNotNull)
      .groupBy(keys :+ v.cast("double").as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum("__c").over(Window.partitionBy(keys: _*).orderBy("__v")))
      .withColumn("__n", sum("__c").over(Window.partitionBy(keys: _*)))

  /** True on the histogram row whose cumulative range [cum−c, cum) holds
    * the 0-based `rank`. */
  private def owns(rank: Column): Column =
    col("__cum") - col("__c") <= rank && rank < col("__cum")

  /** Per fraction `p`: the values covering ranks floor(pos) and ceil(pos)
    * (as `__lo_<suffix>` / `__hi_<suffix>`), picked out of each value's
    * cumulative range [cum−c, cum) on the histogram rows `gate` keeps. */
  private def brackets(p: Double, suffix: String,
      gate: Column => Column): Seq[Column] = {
    val at = pos(col("__n"), p)
    Seq(max(when(gate(owns(floor(at))), col("__v"))).as(s"__lo_$suffix"),
      max(when(gate(owns(ceil(at))), col("__v"))).as(s"__hi_$suffix"))
  }

  /** The continuous rank `p·(n−1)` of fraction `p` among `n` values. */
  private def pos(n: Column, p: Double): Column = lit(p) * (n - 1).cast("double")

  /** The interpolated order statistic at [[pos]] from the values `lo` and
    * `hi` at ranks floor(pos) and ceil(pos) — Spark's
    * `Percentile.getPercentile`, the same double arithmetic. */
  private def interpolate(n: Column, p: Double, lo: Column, hi: Column): Column = {
    val pos = this.pos(n, p)
    when(ceil(pos) === floor(pos), lo)
      .otherwise((ceil(pos) - pos) * lo + (pos - floor(pos)) * hi)
  }

  /** Per-group exact percentiles of `valCol` at the given (outputName,
    * fraction) list. NULL values are ignored (the `percentile` contract),
    * but a group whose values are ALL null still appears with NULL
    * percentiles — Spark's `percentile` and DuckDB's QUANTILE_CONT both
    * keep such groups, so the histogram result is left-joined back to the
    * distinct group set rather than silently dropping them with the
    * filtered rows. Returns one row per group: (groupCol, outputs...). */
  def byHistogram(df: DataFrame, groupCol: String, valCol: String,
      ps: Seq[(String, Double)]): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, p) => p >= 0.0 && p <= 1.0 })
    val hist = histogram(df, Seq(col(groupCol)), col(valCol))
    val pickers = ps.zipWithIndex.flatMap { case ((_, p), i) =>
      brackets(p, s"$i", identity)
    }
    val aggCols = first(col("__n")).as("__n") +: pickers
    val agged = df.select(col(groupCol)).distinct()
      .join(hist.groupBy(groupCol).agg(aggCols.head, aggCols.drop(1): _*),
        Seq(groupCol), "left")
    val outputs = ps.zipWithIndex.map { case ((name, p), i) =>
      interpolate(col("__n"), p, col(s"__lo_$i"), col(s"__hi_$i")).as(name)
    }
    agged.select(col(groupCol) +: outputs: _*)
  }

  /** [[byHistogram]] for SEVERAL value columns in ONE pass over `df`
    * (r14 optimization: q32 ran one byHistogram per column — each with
    * its own scan, histogram shuffle, windows and final aggregate —
    * then joined them). The columns are unpivoted to (group, column
    * index, value) rows, histogrammed/cumulated once (windows keyed by
    * (group, index) — per-column cumulative counts, exactly
    * byHistogram's), and picked per (column, fraction) with
    * index-gated conditional aggregates. The interpolation is the SAME
    * double arithmetic as [[byHistogram]] (Spark's
    * `Percentile.getPercentile` formula), so outputs are bit-identical
    * to the per-column calls joined on the group — the
    * ExactPercentileSpec pin extends to this form. Output columns in
    * `specs` order, one row per group (all-null groups kept, NULL
    * outputs). */
  def byHistogramMulti(df: DataFrame, groupCol: String,
      specs: Seq[(String, Seq[(String, Double)])]): DataFrame = {
    require(specs.nonEmpty && specs.forall(_._2.nonEmpty) &&
      specs.forall(_._2.forall { case (_, p) => p >= 0.0 && p <= 1.0 }))
    val pairs = explode(array(specs.zipWithIndex.map { case ((vc, _), i) =>
      struct(lit(i).as("i"), col(vc).cast("double").as("v"))
    }: _*)).as("__p")
    val hist = histogram(
      df.select(col(groupCol), pairs)
        .select(col(groupCol), col("__p.i").as("__i"), col("__p.v").as("__v")),
      Seq(col(groupCol), col("__i")), col("__v"))
    val pickers = specs.zipWithIndex.flatMap { case ((_, ps), i) =>
      val n = max(when(col("__i") === i, col("__n"))).as(s"__n_$i")
      val pk = ps.zipWithIndex.flatMap { case ((_, p), j) =>
        brackets(p, s"${i}_$j", col("__i") === i && _)
      }
      n +: pk
    }
    val agged = df.select(col(groupCol)).distinct()
      .join(hist.groupBy(groupCol).agg(pickers.head, pickers.drop(1): _*),
        Seq(groupCol), "left")
    val outputs = specs.zipWithIndex.flatMap { case ((_, ps), i) =>
      ps.zipWithIndex.map { case ((name, p), j) =>
        interpolate(col(s"__n_$i"), p, col(s"__lo_${i}_$j"), col(s"__hi_${i}_$j"))
          .as(name)
      }
    }
    agged.select(col(groupCol) +: outputs: _*)
  }

  /** 0-based order-statistic index of DuckDB/Postgres QUANTILE_DISC:
    * ⌈q·n⌉ − 1, clamped at 0 — the convention an external SQL replay
    * computes. */
  def discIndexCeil(n: Column, q: Double): Column =
    greatest(ceil(lit(q) * n.cast("double")) - 1L, lit(0L))

  /** 0-based order-statistic index at rank q·(n−1) — the element-
    * quantile convention [[DdSketch]]'s quantile answers (and Spark's
    * `approx_percentile` targets): ⌊q·(n−1)⌋. */
  def discIndexFloor(n: Column, q: Double): Column =
    floor(lit(q) * (n - 1L).cast("double"))

  /** Per-group exact DISCRETE percentiles — an actual group value, no
    * interpolation: the order statistic whose 0-based index is
    * `indexOf(n, fraction)`. The convention is pluggable because
    * engines disagree ([[discIndexCeil]] replays external
    * QUANTILE_DISC; [[discIndexFloor]] matches the rank a [[DdSketch]]
    * estimate answers, making sketch-vs-exact verdicts compare
    * LIKE-for-like order statistics instead of punishing the sketch
    * for a convention gap). Same bounded scale shape as
    * [[byHistogram]]: reducer state ∝ distinct values per group; all-
    * null groups survive with NULL outputs. */
  def discByHistogram(df: DataFrame, groupCol: String, valCol: String,
      ps: Seq[(String, Double)],
      indexOf: (Column, Double) => Column): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, p) => p >= 0.0 && p <= 1.0 })
    val hist = histogram(df, Seq(col(groupCol)), col(valCol))
    val pickers = ps.map { case (name, p) =>
      val idx = indexOf(col("__n"), p).cast("double")
      max(when(owns(idx), col("__v"))).as(name)
    }
    df.select(col(groupCol)).distinct()
      .join(hist.groupBy(groupCol).agg(pickers.head, pickers.drop(1): _*),
        Seq(groupCol), "left")
  }
}
