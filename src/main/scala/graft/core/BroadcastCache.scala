package graft.core

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** One live Broadcast of `value(model)` per (SparkContext, model). A
  * 65k-sample LSH forest is ~200 MB of node objects and an IVF centroid
  * array at nlist=4096, 768-d is ~25 MB; re-broadcasting such a model on
  * every route/probe call costs seconds of serialization per call and
  * piles up broadcast blocks faster than the ContextCleaner reclaims them
  * — the engine-lifecycle probe degraded ~10x over a session from exactly
  * this. Weak keys let a dropped model (and, via the cleaner, its blocks)
  * be collected; a stale entry from a stopped context is re-broadcast.
  *
  * Each model type owns its own cache instance (one per `K`, one value
  * type `V`), so two value types can never collide on one key. */
final class BroadcastCache[K <: AnyRef, V: ClassTag](value: K => V) {
  private val cache = new java.util.WeakHashMap[K, (SparkContext, Broadcast[V])]()

  def apply(spark: SparkSession, model: K): Broadcast[V] =
    cache.synchronized {
      val sc = spark.sparkContext
      cache.get(model) match {
        case (`sc`, b) => b
        case _ =>
          val b = sc.broadcast(value(model))
          cache.put(model, (sc, b))
          b
      }
    }
}
