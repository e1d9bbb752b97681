package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.{Dataflows, Placement}
import graft.state.{Mutations, StateManager}
import graft.store.StateStore

/** Scenario replay mirroring the reference's iosimulator command set
  * (HT/com/taobao/adfs/iosimulator/scenarios/): FileCreator → FileOpen →
  * FileListing → BlockAllocator → BlockReceived → FileCompleted →
  * FileRename → FileReplication → BlockSynchronization → DatanodeReg —
  * each step applies a write-set to the snapshot and asserts the
  * resulting state, end-to-end through the public operators. */
class ScenarioSpec extends SparkSpec {
  import spark.implicits._

  private val fileCols = Seq("id", "parentId", "name", "length", "blockSize",
    "replication", "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")

  private def applyInserts(snapshot: DataFrame, writeSet: DataFrame): DataFrame =
    snapshot.unionByName(
      writeSet.filter(col("writeOp") === "insert").drop("writeOp")
        .withColumn("atime", col("mtime"))
        .withColumn("blockSize", lit(0L)).withColumn("replication", lit(2L))
        .withColumn("owner", lit(0L))
        .withColumn("leaseHolder", lit(null).cast("string"))
        .withColumn("leaseRecoveryTime", lit(0L))
        .select(fileCols.map(col): _*))

  test("full namenode scenario over the public operators") {
    // -- initial namespace: / and /data
    var file: DataFrame = Seq(
      (0L, -1L, "", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 1L),
      (1L, 0L, "data", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 2L),
    ).toDF(fileCols: _*)

    // -- FileCreator: create /data/f1 (mkdirs write-set + apply)
    val created = Mutations.mkdirs(file,
      Seq((1L, "f1")).toDF("parentId", "name"), idBase = 10L, nowMs = 5L, leafLength = 0L)
    file = applyInserts(file, created)
    assert(rows(StateManager.listChildren(file, 1L).select(col("name"))).map(_.head) == Seq("f1"))
    val f1 = 11L

    // -- FileOpen/path resolution
    val hit = rows(StateManager.resolvePaths(file, Seq("/data/f1").toDF("path")).select(col("id")))
    assert(hit.map(_.head) == Seq(f1))

    // -- BlockAllocator: choose two targets (N7 scoring over the live
    // topology), insert replica rows (incl NULL_DATANODE)
    val dn = (1 to 4).map(i => (i.toLong, s"dn$i", s"DS-$i", 0L, 0L, 1L << 30, 0L,
      1L << 30, 999999L, 0L, s"/r${i % 2}", "NORMAL", i.toLong))
      .toDF("id", "name", "storageId", "ipcPort", "infoPort", "capacity", "dfsUsed",
        "remaining", "lastUpdated", "xceiverCount", "location", "adminState", "version")
    val targets = rows(Placement.chooseTargetsScored(
        Seq((f1, "/r0", 64L)).toDF("reqId", "writerRack", "blockSize"), dn, 1000000L)
      .filter(col("slot") <= 2L).orderBy(col("slot")).select(col("datanodeId")))
      .map(_.head.asInstanceOf[Long])
    assert(targets.size == 2 && targets.distinct.size == 2)
    var block: DataFrame = (targets.map(t => (100L, t, -1L, 1L, f1, 1L, 20L)) :+
      ((100L, 0L, -1L, 1L, f1, 1L, 21L)))
      .toDF("id", "datanodeId", "length", "generationStamp", "fileId", "fileIndex", "version")

    // -- BlockReceived: replicas report finished lengths (drop the NULL row)
    block = StateStore.delete(block, col("datanodeId") === 0L)
    block = StateStore.update(block, col("id") === 100L,
      Map("length" -> StateStore.Assign(640L)), nowMs = 6L)

    // -- FileCompleted: every block now has a finished replica
    val uc = file.withColumn("leaseHolder",
      when(col("id") === f1, "writer1").otherwise(col("leaseHolder")))
    val check = rows(Mutations.completeFileCheck(uc, block)
      .select(col("fileId"), col("canComplete")))
    assert(check == Seq(Seq(f1, true)))

    // -- FileRename: /data/f1 -> /f1moved (write-set + verify move row)
    val renamed = Mutations.rename(file,
      Seq((f1, 0L, "f1moved")).toDF("id", "newParentId", "newName"), nowMs = 7L)
    val moved = rows(renamed.filter(col("writeOp") === "move")
      .select(col("id"), col("parentId"), col("name")))
    assert(moved == Seq(Seq(f1, 0L, "f1moved")))

    // -- FileReplication: one replica lost → under-replicated top-k picks it
    val lost = StateStore.delete(block, col("datanodeId") === targets.head)
    val under = rows(Dataflows.underReplicated(lost, file.withColumn("length",
        when(col("id") === f1, 640L).otherwise(col("length"))), dn,
      nowMs = 1000000L, k = 5).select(col("blockId"), col("liveReplicaCount")))
    assert(under == Seq(Seq(100L, 1L)))

    // -- BlockSynchronization: genstamp bump on one replica wins
    val diverged = StateStore.update(block, col("datanodeId") === targets.head,
      Map("generationStamp" -> StateStore.Assign(2L),
          "length" -> StateStore.Assign(600L)), nowMs = 8L)
    val sync = rows(Dataflows.blockSynchronization(diverged)
      .select(col("id"), col("recoveredGenStamp"), col("recoveredLength")))
    assert(sync == Seq(Seq(100L, 2L, 600L)))

    // -- DatanodeReg: re-register node under new id, same storageId
    val reg = Seq((99L, "dn99", s"DS-${targets.head}", 0L, 0L, 1L << 30, 0L, 1L << 30,
      999999L, 0L, "/r0", "NORMAL", 99L))
      .toDF("id", "name", "storageId", "ipcPort", "infoPort", "capacity", "dfsUsed",
        "remaining", "lastUpdated", "xceiverCount", "location", "adminState", "version")
    val after = rows(Mutations.datanodeUpsert(dn, reg).select(col("id"))).map(_.head).toSet
    assert(after.contains(99L) && !after.contains(targets.head))
  }
}
