package graft.ops

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** (distance, id) pair flowing through the top-k aggregator. */
final case class Scored[I](dist: Double, id: I)

/** Scale-safe bounded top-k as a typed Aggregator.
  *
  * The reference ranks candidates with a parallel sort + take(k)
  * (reference: src/database/index/lsh.rs:561-564, src/database/core.rs:304);
  * round 1 used a per-query ranking window, which shuffles every scored row
  * into |queries| partitions — fatal at 100 TB. This aggregator instead keeps
  * a bounded sorted buffer of the k best (dist, id) pairs per group:
  * Spark's partial aggregation runs it map-side, so each input partition
  * contributes at most k rows per query to the shuffle, and the final merge
  * touches only k·numPartitions survivors per query. Ties break on id for
  * cross-engine determinism.
  *
  * Contract: at most one entry per (dist, id). An input equal to one
  * already buffered is dropped, in `reduce` and in `merge` alike, so a
  * candidate that reaches a group several times (an LSH pair found by
  * more than one tree, say) is ranked once without a dedup shuffle in
  * front of the aggregate.
  *
  * Registered via `functions.udaf`, which wraps it in a
  * TypedImperativeAggregate — the buffer lives as a live object inside
  * ObjectHashAggregateExec and is only serialized (kryo) at the partial →
  * final shuffle boundary.
  */
final class TopKAgg[I: TypeTag: Ordering](k: Int)
    extends Aggregator[Scored[I], ArrayBuffer[Scored[I]], Array[Scored[I]]] {
  require(k > 0, s"k must be positive, got $k")

  private val ord: Ordering[Scored[I]] =
    Ordering.by((s: Scored[I]) => (s.dist, s.id))

  /** Buffer invariant: sorted strictly ascending by (dist, id), so no
    * two entries are equal; length <= k. */
  private def insert(b: ArrayBuffer[Scored[I]], a: Scored[I]): Unit = {
    if (b.length >= k && ord.gteq(a, b(b.length - 1))) return
    var lo = 0
    var hi = b.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ord.lt(b(mid), a)) lo = mid + 1 else hi = mid
    }
    if (lo < b.length && ord.equiv(b(lo), a)) return
    b.insert(lo, a)
    if (b.length > k) b.remove(b.length - 1)
  }

  override def zero: ArrayBuffer[Scored[I]] = ArrayBuffer.empty

  override def reduce(b: ArrayBuffer[Scored[I]], a: Scored[I]): ArrayBuffer[Scored[I]] = {
    insert(b, a); b
  }

  override def merge(
      x: ArrayBuffer[Scored[I]], y: ArrayBuffer[Scored[I]]): ArrayBuffer[Scored[I]] = {
    y.foreach(insert(x, _)); x
  }

  override def finish(b: ArrayBuffer[Scored[I]]): Array[Scored[I]] = b.toArray

  override def bufferEncoder: Encoder[ArrayBuffer[Scored[I]]] =
    Encoders.kryo(scala.reflect.classTag[ArrayBuffer[Scored[I]]])

  override def outputEncoder: Encoder[Array[Scored[I]]] =
    ExpressionEncoder[Array[Scored[I]]]()
}

object TopK {
  /** Column function: top-k (dist, id) per group, id typed I.
    * Usage: `df.groupBy("query_id").agg(TopK.topk[Long](10, $"dist", $"vec_id"))`
    * then `explode` the resulting array of (dist, id) structs. */
  def topk[I: TypeTag: Ordering](k: Int, dist: Column, id: Column): Column =
    udaf(new TopKAgg[I](k), ExpressionEncoder[Scored[I]]())(dist, id)
}
