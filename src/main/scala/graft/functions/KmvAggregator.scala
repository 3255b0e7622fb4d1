package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded k-minimum-values buffer as a typed [[Aggregator]] — the KMV /
  * theta-sketch building block ([[graft.operators.Sketch.kmvSketches]]):
  * keeps the k smallest DISTINCT long hash values seen, combines map-side
  * (each mapper ships ≤ k longs per group into the shuffle regardless of
  * its row count), and dedupes inside the buffer so no distinct
  * pre-aggregation pass is needed. Merging two buffers re-takes the k
  * smallest of their union — exactly the sketch-union rule, which is what
  * makes per-split sketches ≡ the whole-corpus sketch (SketchSpec pins it).
  *
  * The buffer is a sorted vector: k is small by definition (≤ ~hundreds),
  * insertion into a sorted vector beats heap/set constant factors there —
  * the [[TopKAggregator]] argument. The common case at steady state is the
  * O(1) fast reject (a full buffer whose largest value ≤ the incoming one).
  */
class KmvAggregator(k: Int)
    extends Aggregator[Long, Seq[Long], Seq[Long]] {
  require(k >= 1, "k >= 1")

  private def insert(buf: Seq[Long], v: Long): Seq[Long] = {
    if (buf.size >= k && v >= buf.last) {
      // full buffer, v can only enter below the cutoff; equal-to-last is
      // a duplicate of the cutoff itself — both reject
      buf
    } else {
      val (lo, hi) = buf.span(_ < v)
      if (hi.nonEmpty && hi.head == v) buf // already present
      else {
        val merged = (lo :+ v) ++ hi
        if (merged.size > k) merged.take(k) else merged
      }
    }
  }

  override def zero: Seq[Long] = Vector.empty
  override def reduce(buf: Seq[Long], v: Long): Seq[Long] = insert(buf, v)
  override def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
    b.foldLeft(a)(insert)
  override def finish(buf: Seq[Long]): Seq[Long] = buf
  override def bufferEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  /** Explain prints the aggregator: by content, so plans are equal across JVMs. */
  override def toString: String = s"KmvAggregator(k=$k)"
}

object KmvAggregator {
  /** Column form: `kmv(64)(hashCol)` → array<long>, the k smallest
    * distinct values ascending. */
  def kmv(k: Int): Column => Column = {
    val fn = udaf(new KmvAggregator(k))
    h => fn(h)
  }
}
