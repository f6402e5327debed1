package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** A mergeable summary (Agarwal et al., "Mergeable Summaries", PODS 2012)
  * as a typed `Aggregator` — the one shape behind [[graft.ops.Bloom]],
  * [[graft.ops.CountMin]], [[graft.ops.Hll]], [[graft.ops.Kmv]],
  * [[graft.ops.DdSketch]], [[MisraGriesAggregator]] and
  * [[BottomKAggregator]]. A subclass gives `zero`, `add` (one row) and
  * `merge` (two buffers), plus `finish` when the summary is not the
  * buffer and [[reopen]] when a finished summary needs decoding or a
  * check before it merges. The base derives the rest: `reduce` skips a
  * null input; [[column]] applies the summary through `udaf`, so
  * map-side partials apply and a shuffle carries one buffer per group
  * per mapper, never the rows; [[rollUp]] merges finished summaries
  * (a null or zero-length one is the identity); [[collect]] runs the
  * whole-frame build and collects its one row, never the keys.
  *
  * `add` is a method each subclass overrides, not a stored closure, so
  * the per-row fold stays a plain virtual call.
  */
abstract class Summary[IN, BUF, OUT](inEnc: Encoder[IN], bufEnc: Encoder[BUF],
    outEnc: Encoder[OUT]) extends Aggregator[IN, BUF, OUT] {

  /** Fold one non-null input row into `buf`. */
  def add(buf: BUF, in: IN): BUF

  /** The buffer a finished summary stands for; throws when this summary
    * cannot merge it. The identity where the buffer is the output. */
  def reopen(out: OUT): BUF = out.asInstanceOf[BUF]

  final override def reduce(buf: BUF, in: IN): BUF =
    if (in == null) buf else add(buf, in)

  override def finish(buf: BUF): OUT = buf.asInstanceOf[OUT]

  final override def bufferEncoder: Encoder[BUF] = bufEnc
  final override def outputEncoder: Encoder[OUT] = outEnc

  /** Aggregate column applying this summary to `in`. */
  def column(in: Column*): Column = udaf(this, inEnc).apply(in: _*)

  /** Aggregate column merging a column of finished summaries. */
  def rollUp(summaries: Column): Column = new Summary.RollUp(this).column(summaries)

  /** Whole-frame build over the non-null rows of `in`: the one summary
    * row, or the finished empty summary when the job returns none. */
  def collect(df: DataFrame, in: Column): OUT =
    df.filter(in.isNotNull).select(column(in)).as(outEnc).collect()
      .headOption.filter(_ != null).getOrElse(finish(zero))
}

object Summary {

  /** The roll-up of `s`: its buffer, its merge and its finish, over
    * finished summaries. A zero-length byte array is an empty shard. */
  private final class RollUp[BUF, OUT](s: Summary[_, BUF, OUT])
      extends Summary[OUT, BUF, OUT](s.outputEncoder, s.bufferEncoder, s.outputEncoder) {
    override def zero: BUF = s.zero
    override def add(buf: BUF, sk: OUT): BUF = sk match {
      case a: Array[Byte] if a.isEmpty => buf
      case _ => s.merge(buf, s.reopen(sk))
    }
    override def merge(a: BUF, b: BUF): BUF = s.merge(a, b)
    override def finish(buf: BUF): OUT = s.finish(buf)
  }
}
