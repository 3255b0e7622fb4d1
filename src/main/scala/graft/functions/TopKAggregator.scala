package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded top-k per group as a typed [[Aggregator]] — the scale-correct
  * alternative to `row_number().over(Window.partitionBy(...))` for top-k:
  * the window form SORTS EVERY GROUP'S FULL ROW SET (a per-partition sort of
  * the whole table after a shuffle); this aggregator keeps only k rows per
  * group in its buffer, combines map-side (partial aggregation — the shuffle
  * carries ≤ k rows per group per mapper), and never materializes a group's
  * full membership anywhere. At 100 TB with millions of rows per hot group,
  * that is the difference between a bounded shuffle and a spill-heavy sort.
  *
  * Ordering: value DESC, tiebreak id ASC — deterministic. The buffer is a
  * sorted vector (k is small by definition; insertion beats heap constant
  * factors at k ≤ ~100).
  */
class TopKAggregator(k: Int)
    extends Aggregator[TopKAggregator.In, Seq[TopKAggregator.In], Seq[TopKAggregator.In]] {
  import TopKAggregator.In

  private def insert(buf: Seq[In], v: In): Seq[In] = {
    // keep sorted by (value desc, id asc); drop past k
    val (better, worse) = buf.span(b => b.value > v.value || (b.value == v.value && b.id < v.id))
    val merged = (better :+ v) ++ worse
    if (merged.size > k) merged.take(k) else merged
  }

  override def zero: Seq[In] = Vector.empty
  override def reduce(buf: Seq[In], v: In): Seq[In] = insert(buf, v)
  override def merge(a: Seq[In], b: Seq[In]): Seq[In] = b.foldLeft(a)(insert)
  override def finish(buf: Seq[In]): Seq[In] = buf
  override def bufferEncoder: Encoder[Seq[In]] = ExpressionEncoder[Seq[In]]()
  override def outputEncoder: Encoder[Seq[In]] = ExpressionEncoder[Seq[In]]()
  /** Explain prints the aggregator: by content, so plans are equal across JVMs. */
  override def toString: String = s"TopKAggregator(k=$k)"
}

object TopKAggregator {
  /** (value, id) pair ranked by value desc, id asc. */
  case class In(value: Double, id: Long)

  /** Column form: `topK(3)(col(value), col(id))` → array<struct<value,id>>
    * sorted best-first. */
  def topK(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKAggregator(k))
    (value, id) => fn(value, id)
  }
}
