package graft.store

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** R1: the reference's write-through keyed point-lookup cache
  * (A/distributed/DistributedDataCache.java, A/file/FileCache.java:34-125)
  * re-shaped for Spark: a driver-side map over a bounded, keyed snapshot
  * of a state DataFrame. Point lookups (getFileInfo by id, lease by
  * holder) short-circuit the cluster entirely; any write invalidates the
  * touched keys (write-through discipline). Misses fall back to a
  * filtered DataFrame lookup (pushed-down point predicate) and populate
  * the cache, including NEGATIVE entries (key known absent — the
  * reference caches those too).
  *
  * Scale note: this is for dimension-sized hot state (namespace dirs,
  * datanodes, leases), never fact tables — `maxEntries` hard-bounds the
  * driver heap; above it the cache degrades to pass-through.
  */
final class KeyedCache(df: DataFrame, keyCol: String, maxEntries: Int = 100000) {

  private val cache = new ConcurrentHashMap[Any, Option[Row]]()

  private def lookup(key: Any): Option[Row] =
    df.filter(col(keyCol) === lit(key)).limit(1).collect().headOption

  /** Cached point lookup; populates on miss (negative results cached).
    * Miss path is get-then-putIfAbsent, NOT computeIfAbsent: the latter
    * would hold the map's bin lock across a Spark job, serializing
    * concurrent misses that collide on a bin. Two racing misses may both
    * run the lookup (both see the same snapshot — harmless); first put
    * wins. */
  def get(key: Any): Option[Row] = probe(key)._2

  /** [[get]] that also reports WHERE the answer came from (cache hit vs
    * cluster lookup) — the observable the R1 differential gate replays:
    * hit short-circuit, miss populate, negative caching and
    * invalidation are all visible in the (hit, value) stream. */
  def probe(key: Any): (Boolean, Option[Row]) = {
    val hit = cache.get(key)
    if (hit != null) (true, hit)
    else {
      val v = lookup(key)
      if (cache.size() < maxEntries) cache.putIfAbsent(key, v)
      (false, v)
    }
  }

  /** Write-through invalidation: drop the touched keys. */
  def invalidate(keys: Any*): Unit = keys.foreach(cache.remove)

  def size: Int = cache.size()

  /** Pre-warm with the full (bounded) key set in ONE job instead of
    * per-key lookups. Ordered by key: when the table exceeds
    * `maxEntries`, the warmed subset is the deterministic lowest-key
    * prefix (TakeOrderedAndProject), never whichever partitions answered
    * first. */
  def warm(): Int = {
    val all = df.orderBy(col(keyCol)).limit(maxEntries).collect()
    all.foreach(r => cache.put(r.getAs[Any](keyCol), Some(r)))
    all.length
  }
}
