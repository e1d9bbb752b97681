package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.analytics.Dataflows
import graft.core.Caching
import graft.functions.Dedup
import graft.model.DerivedState
import graft.state.{Mutations, StateManager}

/** No helper hands its caller a pin to release (graft.core.Caching): each
  * namespace walk and multi-pass helper leaves the session cache as it
  * found it, and returns a checkpoint that [[Caching.free]] releases. A
  * pinned block derivation leaves no view behind in the session catalog. */
class PinOwnershipSpec extends SparkSpec {
  import spark.implicits._

  private val sf = TestdataDirs.scale("sf0.001")

  // derived once: a checkpoint is not a cache entry, so the law still
  // starts from an empty cache
  private lazy val (file, block) = {
    DerivedState.register(spark, sf)
    (spark.table("file").localCheckpoint(), spark.table("block").localCheckpoint())
  }

  /** Two live top-level dirs and a live file, by id. */
  private lazy val (dirA, dirB, aFile) = {
    val live = file.filter(col("version") > 0)
    val dirs = live.filter(col("parentId") === 0L && col("id") =!= 0L &&
        col("length") === -1L)
      .select(col("id")).orderBy(col("id")).limit(2).collect().map(_.getLong(0))
    val f = live.filter(col("length") =!= -1L).agg(min(col("id"))).head().getLong(0)
    (dirs(0), dirs(1), f)
  }

  private def moves(id: Long, name: String) =
    Seq((id, dirB, name)).toDF("id", "newParentId", "newName")

  private val helpers: Seq[(String, () => DataFrame)] = Seq(
    "descendants" -> (() => StateManager.descendants(file, Seq(dirA))),
    "recursiveDelete" -> (() => StateManager.recursiveDelete(file, Seq(dirA))),
    "materializePaths (join loop)" -> (() =>
      StateManager.materializePaths(file, dirBroadcastLimit = 0L)),
    "contentSummary (join loop)" -> (() =>
      Dataflows.contentSummary(file, Seq(dirA, dirB), dirBroadcastLimit = 0L)),
    "rename (file batch)" -> (() =>
      Mutations.rename(file, moves(aFile, "law_file"), nowMs = 1L)),
    "rename (dir batch)" -> (() =>
      Mutations.rename(file, moves(dirA, "law_dir"), nowMs = 1L)),
    "rename (dir batch, ancestry join loop)" -> (() =>
      Mutations.rename(file, moves(dirA, "law_dir"), nowMs = 1L, dirBroadcastLimit = 0L)),
    "copy" -> (() => Mutations.copy(file, block,
      Seq((dirA, dirB, "law_copy")).toDF("srcId", "dstParentId", "newName"),
      idBase = 1L << 40, blockIdBase = 1L << 40)),
    "dupClusters" -> (() =>
      Dedup.dupClusters(Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2"))),
    "t14_hll_tokens" -> (() => SparkEntry.queries("t14_hll_tokens")(spark, sf)))

  private def cacheEmpty =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  for ((name, call) <- helpers)
    test(s"$name leaves the session cache as it found it") {
      dirA // fixtures resolved outside the measured call
      spark.catalog.clearCache()
      assert(cacheEmpty)
      val out = call()
      assert(cacheEmpty, s"$name left a cache entry behind")
      // the frame returned is its own checkpoint, which free releases
      val rdd = out.queryExecution.logical match {
        case lr: LogicalRDD => lr.rdd.id
        case p => fail(s"$name returned a ${p.nodeName}, not a checkpoint")
      }
      def pinned = spark.sparkContext.getPersistentRDDs.contains(rdd)
      assert(pinned)
      Caching.free(out)
      assert(!pinned)
    }

  test("the stream parity entries leave no temp view behind") {
    DerivedState.register(spark, sf)
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = views
    for (e <- Seq("e4_stream_window_parity", "r9_stream_parity")) {
      assert(SparkEntry.queries(e)(spark, sf).count() > 0)
      assert(views == before, s"$e left ${(views -- before).mkString(", ")}")
    }
  }

  test("n_block_received leaves no graft_*_pin view in views mode") {
    assert(!spark.conf.getOption("graft.layout").contains("bucketed"))
    SparkEntry.queries("n_block_received")(spark, sf).collect()
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("graft_") && n.contains("_pin"))
    assert(views.isEmpty, views.mkString(", "))
  }
}
