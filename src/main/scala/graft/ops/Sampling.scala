package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Dataset-composition operators for training pipelines: stratified
  * sampling (rebalance sources/languages to a target mix) and
  * deterministic shuffling/sharding (reproducible epoch order).
  */
object Sampling {

  /** Guard for operators that ATTACH output columns: `withColumn`
    * silently overwrites an existing column of the same name, so an
    * input that already carries e.g. `split` or `shard` would have its
    * data corrupted with no error. Fail loudly instead — renaming on
    * the caller side is one `withColumnRenamed`. */
  private[ops] def requireFreshColumns(df: DataFrame, op: String,
      names: String*): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"$op writes column(s) ${names.mkString(", ")} but the input " +
        s"already has ${clash.mkString(", ")} — rename them first")
  }

  /** Seeded Knuth uniform on [0, 2^31): seed 0 is exactly the plain
    * `id·2654435761 mod 2^31` the sampling/sharding ops use (so external
    * replays stay one multiply). A NONZERO seed rotates the id ring by
    * `S = seed·2654435761 mod 2^31`, multiplies, then xor-shifts
    * (`x ⊕ (x >> 16)`) and multiplies AGAIN — the same mixed chain
    * [[graft.ops.Splits.orderHash]] always used for ranks.
    *
    * The xor-shift is load-bearing for COMPOSITION (found by the 5M
    * recipe drill, round 10): the rotate-multiply alone is AFFINE mod
    * 2^31 — `h_s(id) = h_0(id) + const` — so a threshold selection at
    * seed s followed by ANY banding at seed t carved intervals, not
    * independent subsets (a 90/10 hash split over mixture survivors
    * measured 98.9/1.1). Each step is a bijection on [0, 2^31)
    * (odd-multiplier modular multiply; xor-shift-right is invertible),
    * so per-seed uniformity is exact, and the chain stays integer-only
    * and exactly replayable in external SQL (`xor` + `//` + `*` + `%`;
    * every intermediate < 2^63 — the post-xor-shift multiply reaches
    * ~(2^31−1)·2654435761 ≈ 5.7·10^18, which fits a signed 64-bit long
    * under ANSI but NOT a DECIMAL(18) — replay with 64-bit integers). */
  def seededKnuth(idCol: org.apache.spark.sql.Column,
      seed: Int): org.apache.spark.sql.Column = {
    val p2 = 2147483648L
    val s = (BigInt(seed) * 2654435761L).mod(BigInt(p2)).toLong
    if (s == 0L) pmod(idCol * lit(2654435761L), lit(p2))
    else {
      val h0 = pmod(pmod(idCol + lit(s), lit(p2)) * lit(2654435761L), lit(p2))
      val h1 = h0.bitwiseXOR(shiftright(h0, 16))
      pmod(h1 * lit(2654435761L), lit(p2))
    }
  }

  /** Per-stratum Bernoulli sampling: keep each row of stratum `s` with
    * probability `fractions(s)` (strata absent from the map are dropped).
    * Seeded and partition-parallel — each task filters its own rows, no
    * shuffle, no driver materialization; the realized per-stratum count is
    * binomial around `fraction × n`. */
  def stratified(df: DataFrame, stratumCol: String,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame =
    df.stat.sampleBy(stratumCol, fractions, seed)

  /** Deterministic shuffle + shard assignment: `shuffle_key` is an
    * invertible affine map of the id mod 2^31 (Knuth multiplicative hash —
    * distinct ids never collide), `shard = shuffle_key mod nShards`.
    * Ordering by `shuffle_key` within a shard is a reproducible
    * pseudo-random epoch order; writing with `partitionBy("shard")` gives
    * n training files with i.i.d.-looking source mix. Pure per-row
    * arithmetic — the engine-independent alternative to `rand()` ordering
    * (which no retry or cross-engine check can reproduce). */
  def deterministicShard(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1)
    requireFreshColumns(df, "deterministicShard", "shuffle_key", "shard")
    // id × odd-constant stays < 2^62 for ids < 2^31 (ANSI-overflow-safe)
    df.withColumn("shuffle_key",
        pmod(col(idCol) * lit(2654435761L), lit(2147483648L)))
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong)))
  }

  /** Weighted deterministic keep-condition: row kept iff its id's Knuth
    * hash lands below `weightPct` (an integer percentage 0–100), i.e. keep
    * probability = weight/100 — quality-weighted downsampling where better
    * documents survive proportionally more often. Same invertible affine
    * hash as [[deterministicShard]]: per-row arithmetic (no shuffle, no
    * RNG state), reproducible across retries, engines and partitionings —
    * `rand() < w` is none of those. Returns the boolean COLUMN so callers
    * can either filter on it or aggregate kept/dropped in one pass. */
  def keepByWeight(idCol: org.apache.spark.sql.Column,
      weightPct: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(pmod(idCol * lit(2654435761L), lit(2147483648L)), lit(100L)) < weightPct

  /** Filter form of [[keepByWeight]]. */
  def weightedSample(df: DataFrame, idCol: String,
      weightPct: org.apache.spark.sql.Column): DataFrame =
    df.filter(keepByWeight(col(idCol), weightPct))

  /** Recency-weighted (time-decay) sampling over an event-time column:
    * keep probability decays LINEARLY with age in days from the corpus's
    * newest event — `bp(age) = max(floorBp, 10000 − decayBpPerDay·age)`
    * basis points — so fresh data is (nearly) fully kept and the tail
    * thins to a floor instead of vanishing (the recency bias every
    * continuously-collected training corpus applies; linear-to-floor
    * rather than exponential keeps ALL arithmetic in exact integers, so
    * membership replays in external SQL with no float anywhere).
    *
    * The reference instant is the corpus max event day — ONE tiny
    * aggregation collected as a literal (the model-row pattern), then
    * membership is pure per-row integer arithmetic on the seeded Knuth
    * hash: `h·10000 < bp·2^31` (both sides < 2^63 — overflow-safe).
    * Deterministic per (id, seed), partition-independent, replayable;
    * one map-only pass at any corpus size. `tsNsCol` is epoch nanos
    * (the [[graft.queries.EventQueries.normalized]] `ts_ns` column) and
    * must be NON-NEGATIVE (post-1970): day bucketing uses truncating
    * `div`, which matches the oracle's floor `//` only for ts_ns >= 0. */
  def timeDecaySample(events: DataFrame, idCol: String, tsNsCol: String,
      decayBpPerDay: Int = 500, floorBp: Int = 500,
      seed: Int = 0): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val row = events.agg(max(expr(s"$tsNsCol div $dayNs")).as("d")).head()
    // empty input (or all-null ts): max aggregates to null — a daily
    // pipeline's no-events-yet partition must yield an empty frame with
    // the full output schema, not an opaque NPE; refDay 0 is inert on
    // zero rows
    val maxDay = if (row.isNullAt(0)) 0L else row.getLong(0)
    applyTimeDecay(events, idCol, tsNsCol, maxDay, decayBpPerDay, floorBp, seed)
  }

  /** The map-only half of [[timeDecaySample]] with the reference day
    * supplied by the caller — the continuous-ingest entry point, which
    * runs on a streaming frame unchanged: yesterday's
    * batch computes `refDay` once, today's stream applies it statelessly
    * (the mixture-threshold daily-cadence pattern). */
  def applyTimeDecay(events: DataFrame, idCol: String, tsNsCol: String,
      refDay: Long, decayBpPerDay: Int = 500, floorBp: Int = 500,
      seed: Int = 0): DataFrame = {
    require(decayBpPerDay >= 0 && floorBp >= 0 && floorBp <= 10000)
    requireFreshColumns(events, "applyTimeDecay", "age_days", "keep_bp")
    val dayNs = 86400L * 1000000000L
    // `div` truncates toward zero while the external-SQL replays use
    // floor division (`//`) — identical ONLY for ts_ns >= 0. Epoch-nano
    // event times are non-negative by the [[graft.queries.EventQueries]]
    // contract (post-1970 events); pre-epoch timestamps would shift the
    // age bucket by one day vs the oracle, so the contract is explicit
    // rather than silent.
    val age = lit(refDay) - expr(s"$tsNsCol div $dayNs")
    val bp = greatest(lit(floorBp.toLong),
      lit(10000L) - lit(decayBpPerDay.toLong) * age)
    events
      .withColumn("age_days", age)
      .withColumn("keep_bp", bp)
      .filter(seededKnuth(col(idCol), seed) * lit(10000L) <
        col("keep_bp") * lit(2147483648L))
  }

  /** EXACT-size uniform sample via hash order statistics: the k rows with
    * the smallest Knuth-hash of their id. Bernoulli sampling
    * ([[stratified]]) only hits the target size in expectation; this is
    * the reproducible "give me exactly 10k documents" — same sample on
    * every rerun, engine, and partitioning. The hash is a bijection on
    * ids below 2^31 (odd multiplier mod 2^31), so keys never tie and the
    * order is total. Plans as TakeOrderedAndProject: each partition keeps
    * a k-row heap, no global sort, no shuffle of the corpus. */
  def uniformExactK(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1)
    requireFreshColumns(df, "uniformExactK", "sample_key")
    df.withColumn("sample_key",
        pmod(col(idCol) * lit(2654435761L), lit(2147483648L)))
      .orderBy("sample_key")
      .limit(k)
  }

  /** EXACT-size uniform sample PER GROUP — [[uniformExactK]]'s stratified
    * sibling: the k smallest id-hash rows within each group ("exactly 10k
    * documents per language"), reproducible across reruns, engines and
    * partitionings. Emits `sample_key` and the within-group `rk` (1..k).
    *
    * Scale shape: a BOUNDED-BUFFER aggregation, not a window sort. The
    * (group, id, hash) projection aggregates through
    * [[graft.functions.BottomKAggregator]] — each map task keeps ≤k pairs
    * per group (partial aggregation), so the group shuffle carries at
    * most k rows per group per mapper and NO group is ever sorted whole;
    * a `row_number` window is result-identical but sorts each group's
    * full row set, which spills on million-row hot groups where the k-pair
    * buffer cannot. The k·groups winner set then joins back to reattach
    * payload columns — a second (column-pruned, two-column) scan of `df`,
    * but the winner side is aggregate output whose tiny runtime size AQE
    * sees and broadcasts: at 100 TB, two cheap scans and zero corpus
    * shuffles beat one scan that shuffles and sorts everything. */
  def uniformExactKPerGroup(df: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 1)
    val winners = df
      .select(col(groupCol).as("__g"), col(idCol).cast("long").as("__id"))
      .withColumn("__sk", pmod(col("__id") * lit(2654435761L), lit(2147483648L)))
      .groupBy(col("__g"))
      .agg(new graft.functions.BottomKAggregator[Long](k)
        .column(col("__sk"), col("__id")).as("__w"))
      // two selects: posexplode is a Generate, and getField extraction
      // must not resolve against the generator's own output aliases
      .select(col("__g"), posexplode(col("__w")).as(Seq("__pos", "__e")))
      .select(col("__g"), (col("__pos") + 1).cast("int").as("rk"),
        col("__e._1").as("sample_key"), col("__e._2").as("__id"))
    df.join(winners,
        col(idCol).cast("long") === col("__id") && col(groupCol) === col("__g"))
      .select(ArraySeq.unsafeWrapArray(
        df.columns.map(col) ++ Seq(col("sample_key"), col("rk"))): _*)
  }
}
