package graft.functions

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.Encoder

/** Up to `cap` distinct values of a column: `collect_set` with bounded
  * state. A buffer stops growing once it holds `cap` values, so every
  * partial and final aggregate is O(cap) however many distinct values
  * the input has. The result holds min(distinct values, cap) values
  * under any partial-aggregation schedule: a buffer below the cap holds
  * exactly the distinct values fed into it, and a merge with a full
  * buffer stays full. Below the cap the result is therefore every
  * distinct value; at the cap it is some `cap` of them.
  */
class CappedSet[T](cap: Int, buf: Encoder[Set[T]], out: Encoder[Seq[T]])
    extends Aggregator[T, Set[T], Seq[T]] {
  require(cap >= 1)

  override def zero: Set[T] = Set.empty

  override def reduce(b: Set[T], v: T): Set[T] = if (b.size >= cap) b else b + v

  override def merge(x: Set[T], y: Set[T]): Set[T] =
    if (x.size >= cap) x else if (y.size >= cap) y else (x ++ y).take(cap)

  override def finish(b: Set[T]): Seq[T] = b.toSeq

  override def bufferEncoder: Encoder[Set[T]] = buf
  override def outputEncoder: Encoder[Seq[T]] = out
}

object CappedSet {
  def apply[T: TypeTag](cap: Int): CappedSet[T] =
    new CappedSet(cap, ExpressionEncoder[Set[T]](), ExpressionEncoder[Seq[T]]())
}
