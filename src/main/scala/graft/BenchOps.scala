package graft

import org.apache.spark.sql.functions._

import graft.analytics.Dataflows
import graft.model.DerivedState
import graft.state.{Mutations, StateManager}

/** Op-matrix benchmarker — the analog of the reference's
  * BenchmarkerForNamenode (A/benchmark/BenchmarkerForNamenode.java:48-80,
  * 260-295): replays the namenode op mix (create/mkdirs/delete/rename/
  * getblocklocations/getlisting/getfileinfo/append/setpermission/
  * setreplication) against the
  * engine's state tables and reports ops/s per op with the same formula
  * n·1000/elapsed-ms. Here each "op" is one element of a BATCH query —
  * the engine's natural unit — so ops/s measures batch throughput.
  *
  * Usage: runMain graft.BenchOps [sfDir]
  */
object BenchOps {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local()
    val Now = DerivedState.NowMs
    DerivedState.register(spark, sfDir)
    val file = spark.table("file")
    val block = spark.table("block")

    def timed(name: String)(n: => Long): (String, Long, Double) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val count = n
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      (name, count, count * 1000.0 / elapsedMs)
    }

    val results = Seq(
      timed("create") {
        val reqs = spark.sql(
          "SELECT CAST(100 + c_custkey AS BIGINT) AS parentId, 'bench_' || CAST(c_custkey AS STRING) AS name FROM customer")
        Mutations.mkdirs(file, reqs, idBase = 9000000L, nowMs = Now, leafLength = 0L)
          .filter(col("writeOp") === "insert").count()
      },
      timed("put") {
        // the whole client write loop per file: create validation + the
        // declarative block fan-out (multi-block chains, ragged tails)
        val reqs = spark.sql(
          "SELECT CAST(100 + c_custkey AS BIGINT) AS parentId, 'benchput_' || CAST(c_custkey AS STRING) AS name, 'hb' AS holder, CAST((c_custkey % 5) * 67108864 + c_custkey % 9999 AS BIGINT) AS fileLength FROM customer")
        Mutations.putFile(file, reqs, idBase = 9800000L,
          blockIdBase = 9000000000L, blockSize = 67108864L, nowMs = Now).count()
      },
      timed("mkdirs") {
        val reqs = spark.sql(
          "SELECT CAST(1 + n_nationkey AS BIGINT) AS parentId, 'benchdir_' || CAST(c_custkey AS STRING) AS name FROM customer JOIN nation ON c_nationkey = n_nationkey")
        Mutations.mkdirs(file, reqs, idBase = 9500000L, nowMs = Now).count()
      },
      timed("delete") {
        val ids = spark.sql("SELECT CAST(100 + c_custkey AS BIGINT) AS id FROM customer")
        Mutations.guardedDelete(file, ids).count()
      },
      timed("rename") {
        val rn = spark.sql(
          "SELECT CAST(1000000 + o_orderkey AS BIGINT) AS id, CAST(100 + o_custkey AS BIGINT) AS newParentId, 'rn_' || CAST(o_orderkey AS STRING) AS newName FROM orders WHERE o_orderkey % 4 = 0")
        Mutations.rename(file, rn, nowMs = Now).count()
      },
      timed("getblocklocations") {
        val reqs = spark.sql(
          "SELECT CAST(1000000 + o_orderkey AS BIGINT) AS fileId, CAST(0 AS BIGINT) AS offset, CAST(100000 AS BIGINT) AS reqLen FROM orders WHERE o_orderkey % 8 = 0")
        Dataflows.blockLocations(block, reqs).count()
      },
      timed("getlisting") {
        // every nation dir listed (children counted per dir)
        StateManager.listChildren(file, 0L).unionByName(
          (1L to 25L).map(i => StateManager.listChildren(file, i))
            .reduce(_ unionByName _)).count()
      },
      timed("getfileinfo") {
        StateManager.fileInfo(file, block).count()
      },
      timed("setreplication") {
        Mutations.setAttrs(file, col("version") > 0 && col("length") > 0,
          Map("replication" -> graft.store.StateStore.Assign(2L)), nowMs = Now)
          .filter(col("version") > 1000000000L).count()
      },
      timed("append") {
        // the REAL reopen-for-append ladder (N2 append branch): lease
        // re-attach + last-block reopen write-set per closed file slice
        val reqs = file.filter(col("version") > 0 && col("length") > 0 &&
            col("leaseHolder").isNull && col("id") % 5 === 0)
          .select(col("parentId"), col("name"),
            concat(lit("hb_"), (col("id") % 100).cast("string")).as("holder"))
        Mutations.appendFile(file, block, reqs, nowMs = Now).count()
      },
      timed("setpermission") {
        Mutations.setAttrs(file, col("version") > 0,
          Map("owner" -> graft.store.StateStore.Assign(7L)), nowMs = Now)
          .filter(col("version") > 1000000000L).count()
      },
      timed("blockreceived") {
        // the per-receipt addStoredBlock flow (the namenode's hottest
        // write RPC): half the reported feed as one receipt batch
        val ops = spark.sql(
          """SELECT datanodeId, blockId, repLength, repGenStamp,
            |       CAST(NULL AS BIGINT) AS delHint
            |FROM reported WHERE datanodeId <= 4""".stripMargin)
        graft.analytics.Replication
          .blockReceived(block, file, spark.table("datanode"), ops).count()
      },
    )

    val ops = results.map { case (k, n, rate) =>
      s""""$k":{"n":$n,"opsPerSec":${math.round(rate)}}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(s"""{"metric":"tester.benchmarker.total.ops","totalOps":$total,"ops":$ops,"sf":"$sfDir"}""")
    spark.stop()
  }
}
