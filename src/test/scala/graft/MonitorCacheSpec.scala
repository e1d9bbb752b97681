package graft

import org.apache.spark.sql.functions._

import graft.analytics.Dataflows
import graft.core.Metrics
import graft.store.KeyedCache

/** R1 keyed cache, D10 metrics table, N10 replication-monitor tick. */
class MonitorCacheSpec extends SparkSpec {
  import spark.implicits._

  test("R1: keyed cache point lookups, negative caching, invalidation") {
    val dim = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val cache = new KeyedCache(dim, "id")
    assert(cache.get(1L).map(_.getString(1)) == Some("b").map(_ => "a"))
    assert(cache.get(99L).isEmpty) // negative entry
    assert(cache.size == 2)       // hit + negative both cached
    cache.invalidate(1L)
    assert(cache.size == 1)
    assert(cache.warm() == 2 && cache.get(2L).map(_.getString(1)).contains("b"))
  }

  test("R1: concurrent misses neither deadlock nor corrupt the cache") {
    val dim = (1L to 64L).map(i => (i, s"v$i")).toDF("id", "v")
    val cache = new KeyedCache(dim, "id")
    // 16 threads × colliding keys: under computeIfAbsent this serialized
    // whole Spark jobs behind one bin lock; get-then-putIfAbsent must
    // finish and agree with the source for every key
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val futures = (0 until 64).map { i =>
        pool.submit(new java.util.concurrent.Callable[Option[String]] {
          def call(): Option[String] = cache.get((i % 8 + 1).toLong).map(_.getString(1))
        })
      }
      val got = futures.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.zipWithIndex.forall { case (v, i) => v.contains(s"v${i % 8 + 1}") })
      assert((1L to 8L).forall(k => cache.get(k).isDefined))
    } finally pool.shutdownNow()
  }

  test("Caching.free releases localCheckpoint storage a bare unpersist leaks") {
    import spark.implicits._
    val ck = Seq(1, 2, 3).toDF("x").localCheckpoint()
    // track the SPECIFIC checkpointed RDD, not aggregate counts — the
    // ContextCleaner may concurrently reap RDDs other tests leaked
    val ckRddId = ck.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.head
    def pinned = spark.sparkContext.getPersistentRDDs.contains(ckRddId)
    assert(pinned)
    // the bug class the round-12 review found: Dataset.unpersist only
    // consults the CacheManager, so a checkpointed frame's storage stays
    ck.unpersist(blocking = true)
    assert(pinned,
      "bare unpersist unexpectedly freed the checkpoint (fix the helper's rationale)")
    graft.core.Caching.free(ck)
    assert(!pinned)
  }

  test("D10: metrics listener records action durations as a table") {
    val rec = Metrics.attach(spark)
    try {
      Seq(1, 2, 3).toDF("x").count()
      // listener delivery is async; poll briefly
      var tries = 0
      while (rec.snapshot.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(rec.snapshot.nonEmpty)
      val m = rows(Metrics.asDataFrame(spark, rec).select(col("action"), col("n")))
      assert(m.nonEmpty && m.exists(_.head == "count"))
    } finally rec.clear()
  }
}
