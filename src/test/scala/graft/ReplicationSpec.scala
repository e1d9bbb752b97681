package graft

import org.apache.spark.sql.functions._

import graft.analytics.{Dataflows, Replication}

/** PendingReplicationBlocks lifecycle, CorruptReplicasMap semantics and
  * the N9 command caps (reference behaviors:
  * PendingReplicationBlocks.java add/remove/timeout,
  * FSNamesystem.java:666-701 corrupt exclusion, :2324-2334 requeue). */
class ReplicationSpec extends SparkSpec {
  import spark.implicits._

  private val Now = 1700000000000L

  test("pendingAfterSchedule inserts new entries and increments+restamps existing") {
    val pending = Seq((1L, 2L, Now - 400000L), (2L, 1L, Now - 100000L))
      .toDF("blockId", "inFlight", "since")
    val scheduled = Seq((1L, 1L), (3L, 2L)).toDF("blockId", "numTargets")
    val out = Replication.pendingAfterSchedule(pending, scheduled, Now)
      .orderBy("blockId").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // block 1: 2+1 in flight, timestamp RESET to now (the reference's
    // found.incrementReplicas + setTimeStamp); block 2 untouched; block 3 new
    assert(out.toSeq == Seq((1L, 3L, Now), (2L, 1L, Now - 100000L), (3L, 2L, Now)))
  }

  test("pendingAfterReceipts decrements and drops entries reaching zero") {
    val pending = Seq((1L, 2L, Now), (2L, 1L, Now), (3L, 1L, Now))
      .toDF("blockId", "inFlight", "since")
    // two receipts for block 1, one for block 2, one for UNTRACKED block 9
    val received = Seq(1L, 1L, 2L, 9L).toDF("blockId")
    val out = Replication.pendingAfterReceipts(pending, received)
      .orderBy("blockId").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((3L, 1L))) // 1 and 2 fully received, 9 a no-op
  }

  test("timed-out entries requeue with current replica counts; recovered blocks do not") {
    val pending = Seq(
      (10L, 1L, Now - 400000L), // timed out (5 min limit)
      (11L, 1L, Now - 400000L), // timed out but block recovered meanwhile
      (12L, 1L, Now - 100000L), // still fresh
    ).toDF("blockId", "inFlight", "since")
    val timedOut = Replication.pendingTimedOut(pending, Now)
    assert(timedOut.select("blockId").as[Long].collect().sorted.toSeq == Seq(10L, 11L))
    val block = Seq(
      (10L, 1L, 100L, 5L, 0L, 1L), // one live replica of a repl-3 file
      (11L, 1L, 101L, 5L, 0L, 2L), (11L, 2L, 101L, 5L, 0L, 3L),
      (11L, 3L, 101L, 5L, 0L, 4L), // fully recovered (3 replicas live)
    ).toDF("id", "datanodeId", "fileId", "generationStamp", "fileIndex", "version")
      .withColumn("length", lit(1000L))
    val file = Seq((100L, 3L, 1000L, 1L), (101L, 3L, 1000L, 2L))
      .toDF("id", "replication", "length", "version")
    val datanode = Seq(1L, 2L, 3L).toDF("id")
      .withColumn("lastUpdated", lit(Now))
      .withColumn("adminState", lit("NORMAL"))
      .withColumn("version", col("id"))
    val rq = Replication.pendingRequeue(timedOut, block, file, datanode, Now)
      .collect()
    assert(rq.length == 1)
    assert(rq.head.getAs[Long]("blockId") == 10L)
    assert(rq.head.getAs[Long]("liveReplicaCount") == 1L)
    assert(rq.head.getAs[Int]("priority") == 0) // last-replica level
  }

  test("requeue keeps a block whose replicas all sit on dead nodes") {
    val timedOut = Seq((20L, 1L, 0L)).toDF("blockId", "inFlight", "since")
    val block = Seq((20L, 1L, 200L, 5L, 0L, 1L))
      .toDF("id", "datanodeId", "fileId", "generationStamp", "fileIndex", "version")
      .withColumn("length", lit(1000L))
    val file = Seq((200L, 2L, 1000L, 1L)).toDF("id", "replication", "length", "version")
    val datanode = Seq((1L, 0L)).toDF("id", "lastUpdated") // dead
      .withColumn("adminState", lit("NORMAL")).withColumn("version", lit(1L))
    val rq = Replication.pendingRequeue(timedOut, block, file, datanode, Now).collect()
    // zero live replicas → still queue membership (neededReplications.add
    // with liveReplicas 0), priority 0
    assert(rq.length == 1 && rq.head.getAs[Long]("liveReplicaCount") == 0L)
  }

  test("discountPending drops fully-covered blocks and reduces the rest") {
    val work = Seq(
      (1L, 100L, 1L, 3L, 0), // needs 2
      (2L, 100L, 2L, 3L, 2), // needs 1, 1 in flight → drop
      (3L, 100L, 1L, 3L, 0), // needs 2, 1 in flight → needs 1
    ).toDF("blockId", "fileId", "liveReplicaCount", "expectedReplication", "priority")
    val pending = Seq((2L, 1L, Now), (3L, 1L, Now)).toDF("blockId", "inFlight", "since")
    val out = Replication.discountPending(work, pending)
      .orderBy("blockId")
      .select("blockId", "pendingReplicas", "effectiveReplicas", "needed")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 0L, 1L, 2L), (3L, 1L, 2L, 1L)))
  }

  test("corrupt marks exclude replicas while a good one remains; all-corrupt serves all") {
    val block = Seq(
      // block 1: replicas on 1,2 — node 2 marked corrupt → only 1 served
      (1L, 1L, 100L, 1L), (1L, 2L, 100L, 2L),
      // block 2: single replica on 3, marked → all-corrupt, served anyway
      (2L, 3L, 100L, 3L),
    ).toDF("id", "datanodeId", "fileId", "version")
      .withColumn("length", lit(1000L)).withColumn("generationStamp", lit(5L))
      .withColumn("fileIndex", lit(0L))
    val datanode = Seq((1L, "/rack0"), (2L, "/rack1"), (3L, "/rack0"))
      .toDF("id", "location").withColumn("version", col("id"))
    val marks = Seq((1L, 2L), (2L, 3L)).toDF("blockId", "datanodeId")
    val out = Dataflows.replicasByDistance(block, datanode, "/rack0", -1L, marks)
      .orderBy("id").collect()
    assert(out(0).getAs[String]("orderedReplicas") == "1")
    assert(!out(0).getAs[Boolean]("blockCorrupt"))
    assert(out(1).getAs[String]("orderedReplicas") == "3")
    assert(out(1).getAs[Boolean]("blockCorrupt"))
  }

  test("corruptMarks picks only stored-replica toInvalidate decisions") {
    val actions = Seq(
      (1L, 1L, "toInvalidate", Some(5L)),  // stored replica → mark
      (2L, 2L, "toInvalidate", None),      // reported-only → no mark
      (3L, 3L, "toAdd", Some(5L)),
    ).toDF("blockId", "datanodeId", "action", "storedGenStamp")
    assert(Replication.corruptMarks(actions).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("corruptInvalidations converts marks once enough good replicas live") {
    val block = Seq(
      // block 1: good replicas on 1,2 + corrupt on 3; replication 2 → sweep
      (1L, 1L, 100L, 1L), (1L, 2L, 100L, 2L), (1L, 3L, 100L, 3L),
      // block 2: good on 1, corrupt on 2; replication 2 → keep the mark
      (2L, 1L, 101L, 4L), (2L, 2L, 101L, 5L),
    ).toDF("id", "datanodeId", "fileId", "version")
      .withColumn("length", lit(1000L)).withColumn("generationStamp", lit(5L))
      .withColumn("fileIndex", lit(0L))
    val file = Seq((100L, 2L, 1000L, 1L), (101L, 2L, 1000L, 2L))
      .toDF("id", "replication", "length", "version")
    val datanode = Seq(1L, 2L, 3L).toDF("id")
      .withColumn("lastUpdated", lit(Now))
      .withColumn("adminState", lit("NORMAL"))
      .withColumn("version", col("id"))
    val marks = Seq((1L, 3L), (2L, 2L)).toDF("blockId", "datanodeId")
    val inv = Replication.corruptInvalidations(marks, block, file, datanode, Now)
      .collect()
    assert(inv.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 3L)))
  }

  test("per-op blockReceived agrees with the batch sweep action-for-action") {
    // one block per classification branch; datanode 1 reports all of them
    val block = Seq(
      (1L, 1L, 100L, 10L, 500L, 1L),  // stale-genstamp report → corrupt
      (2L, 1L, 100L, 10L, 500L, 2L),  // short report → corrupt
      (3L, 1L, 100L, 10L, 500L, 3L),  // grown report → update / batch toAdd
      (4L, 1L, 100L, 10L, 500L, 4L),  // identical report → ignore / ok
      (5L, 2L, 100L, 10L, 500L, 5L),  // never stored on node 1 → add / toAdd
      (6L, 1L, 100L, 10L, -1L, 6L),   // UC completion: per-op update, batch ok
    ).toDF("id", "datanodeId", "fileId", "generationStamp", "length", "version")
      .withColumn("fileIndex", lit(0L))
    val file = Seq((100L, 3L, 1000L, 1L)).toDF("id", "replication", "length", "version")
      .withColumn("leaseHolder", lit(null).cast("string"))
    val datanode = Seq(1L, 2L).toDF("id")
      .withColumn("location", lit("/r0")).withColumn("remaining", lit(100L))
      .withColumn("lastUpdated", lit(Now)).withColumn("adminState", lit("NORMAL"))
      .withColumn("version", col("id"))
    val reported = Seq(
      (1L, 1L, 500L, 9L), (1L, 2L, 400L, 10L), (1L, 3L, 600L, 10L),
      (1L, 4L, 500L, 10L), (1L, 5L, 500L, 10L), (1L, 6L, 700L, 10L),
    ).toDF("datanodeId", "blockId", "repLength", "repGenStamp")
    val perOp = Replication.blockReceived(block, file, datanode,
        reported.withColumn("delHint", lit(null).cast("long")))
      .select("blockId", "outcome").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // keyed by (node, block): the sweep ALSO emits a toRemove row for
    // block 5's unreported stored replica on node 2 — the per-op flow
    // compares against the reporting node's own row
    val batch = Dataflows.reconcileReports(block, reported)
      .select("datanodeId", "blockId", "action").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // the mapping between the two vocabularies; blocks 6 is the ONE
    // documented divergence (−1 UC completion: per-op update, batch ok)
    val expectBatchOf = Map(
      "corruptInvalidate" -> "toInvalidate", "add" -> "toAdd",
      "update" -> "toAdd", "ignore" -> "ok")
    assert(perOp == Map(1L -> "corruptInvalidate", 2L -> "corruptInvalidate",
      3L -> "update", 4L -> "ignore", 5L -> "add", 6L -> "update"))
    (1L to 5L).foreach { b =>
      assert(batch((1L, b)) == expectBatchOf(perOp(b)), s"block $b")
    }
    assert(batch((1L, 6L)) == "ok") // the sweep's non-actionable-UC convention
  }

  test("blockReceived rejects receipts for unknown blocks and deleted files") {
    val block = Seq((1L, 1L, 100L, 10L, 500L, 1L))
      .toDF("id", "datanodeId", "fileId", "generationStamp", "length", "version")
      .withColumn("fileIndex", lit(0L))
    val file = Seq((100L, 3L, 1000L, -1L)) // tombstoned owner
      .toDF("id", "replication", "length", "version")
      .withColumn("leaseHolder", lit(null).cast("string"))
    val datanode = Seq(1L).toDF("id")
      .withColumn("location", lit("/r0")).withColumn("remaining", lit(100L))
      .withColumn("lastUpdated", lit(Now)).withColumn("adminState", lit("NORMAL"))
      .withColumn("version", lit(1L))
    val ops = Seq((1L, 1L, 500L, 10L), (1L, 99L, 500L, 10L))
      .toDF("datanodeId", "blockId", "repLength", "repGenStamp")
      .withColumn("delHint", lit(null).cast("long"))
    val out = Replication.blockReceived(block, file, datanode, ops)
      .select("blockId", "outcome").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "rejectInvalidate", 99L -> "rejectInvalidate"))
  }

  test("getBlocks: wrap-around cursor fills the size budget, skips located-nowhere blocks") {
    // node 1 holds blocks 1..5 (lengths 100 each via their primaries);
    // block 3 has no valid location (its only replica is UC) → skipped
    // and NOT counted toward the budget
    val block = Seq(
      (1L, 1L, 100L, 100L), (2L, 1L, 100L, 100L), (3L, 1L, -1L, 100L),
      (4L, 1L, 100L, 100L), (5L, 1L, 100L, 100L),
      // co-located replicas on node 2 so locations are multi-node
      (1L, 2L, 100L, 100L), (4L, 2L, 100L, 100L),
    ).map { case (id, dn, len, fid) => (id, dn, len, fid, 7L, id * 10 + dn) }
      .toDF("id", "datanodeId", "length", "fileId", "generationStamp", "version")
      .withColumn("fileIndex", lit(0L))
    val datanode = Seq(1L, 2L).toDF("id").withColumn("version", col("id"))
    // budget 250 from cursor 3 (block 4): picks 4 (100), 5 (100), wraps
    // to 1 (100, crossing the budget) and stops — 2 never reached,
    // 3 iterated but skipped
    val out = graft.analytics.Dataflows.getBlocks(block, datanode,
        Seq((1L, 250L, 3L)).toDF("datanodeId", "size", "startIdx"))
      .orderBy(col("blockId")).collect()
    assert(out.map(_.getAs[Long]("blockId")).toSeq == Seq(1L, 4L, 5L))
    assert(out.find(_.getAs[Long]("blockId") == 4L).get
      .getAs[String]("locations") == "1,2")
    // TWO requests for the same node — the balancer's real repeated-call
    // pattern — must each run an independent cursor scan (windows keyed
    // by the full request, never node-only)
    val two = graft.analytics.Dataflows.getBlocks(block, datanode,
        Seq((1L, 250L, 3L), (1L, 150L, 0L)).toDF("datanodeId", "size", "startIdx"))
      .collect().map(_.getAs[Long]("blockId")).sorted.toSeq
    // request 1 picks {4,5,1} as above; request 2 from cursor 0 with
    // budget 150 picks blocks 1 (100) and 2 (100, crossing)
    assert(two == Seq(1L, 1L, 2L, 4L, 5L))
  }

  test("a corrupt reporter never joins the holder set (markBlockAsCorrupt never inserts)") {
    // block 1 stored on nodes 1,2 (gs 10); node 3 reports a STALE copy
    // (corruptInvalidate) in the same batch as node 2's valid receipt.
    // replication = 2: if the corrupt reporter counted as a holder,
    // liveAfter would read 3 and flip node 2's receipt to __excess.
    val block = Seq((1L, 1L), (1L, 2L))
      .toDF("id", "datanodeId")
      .withColumn("fileId", lit(100L)).withColumn("generationStamp", lit(10L))
      .withColumn("length", lit(500L)).withColumn("fileIndex", lit(0L))
      .withColumn("version", col("datanodeId"))
    val file = Seq((100L, 2L, 1000L, 1L)).toDF("id", "replication", "length", "version")
      .withColumn("leaseHolder", lit(null).cast("string"))
    val datanode = Seq(1L, 2L, 3L).toDF("id")
      .withColumn("location", lit("/r0")).withColumn("remaining", lit(100L))
      .withColumn("lastUpdated", lit(Now)).withColumn("adminState", lit("NORMAL"))
      .withColumn("version", col("id"))
    val ops = Seq(
      (2L, 1L, 500L, 10L), // valid ignore from a real holder
      (3L, 1L, 500L, 9L),  // stale genstamp → corruptInvalidate
    ).toDF("datanodeId", "blockId", "repLength", "repGenStamp")
      .withColumn("delHint", lit(null).cast("long"))
    val out = Replication.blockReceived(block, file, datanode, ops)
      .orderBy("datanodeId").collect()
    val valid = out.find(_.getAs[Long]("datanodeId") == 2L).get
    assert(valid.getAs[String]("outcome") == "ignore")
    assert(valid.getAs[Long]("liveAfter") == 2L) // NOT 3: reporter 3 excluded
    assert(valid.isNullAt(valid.fieldIndex("firstDrop")))
    val corruptOp = out.find(_.getAs[Long]("datanodeId") == 3L).get
    assert(corruptOp.getAs[String]("outcome") == "corruptInvalidate")
  }

  test("blockReceived excludes standing corrupt-marked replicas from liveAfter") {
    // block 1 stored on nodes 1,2,3 (gs 10) but (1,3) carries a standing
    // corrupt mark; node 2 sends a valid receipt. replication = 2:
    // without the mark exclusion liveAfter=3 → excess drop; with it,
    // liveAfter=2 and no drop (countNodes corrupt exclusion).
    val block = Seq((1L, 1L), (1L, 2L), (1L, 3L))
      .toDF("id", "datanodeId")
      .withColumn("fileId", lit(100L)).withColumn("generationStamp", lit(10L))
      .withColumn("length", lit(500L)).withColumn("fileIndex", lit(0L))
      .withColumn("version", col("datanodeId"))
    val file = Seq((100L, 2L, 1000L, 1L)).toDF("id", "replication", "length", "version")
      .withColumn("leaseHolder", lit(null).cast("string"))
    val datanode = Seq(1L, 2L, 3L).toDF("id")
      .withColumn("location", lit("/r0")).withColumn("remaining", lit(100L))
      .withColumn("lastUpdated", lit(Now)).withColumn("adminState", lit("NORMAL"))
      .withColumn("version", col("id"))
    val ops = Seq((2L, 1L, 500L, 10L))
      .toDF("datanodeId", "blockId", "repLength", "repGenStamp")
      .withColumn("delHint", lit(null).cast("long"))
    val marks = Seq((1L, 3L)).toDF("blockId", "datanodeId")
    val bare = Replication.blockReceived(block, file, datanode, ops)
      .collect().head
    assert(bare.getAs[Long]("liveAfter") == 3L)
    // equal remaining, all one rack → (remaining, datanodeId) tie-break
    assert(bare.getAs[Long]("firstDrop") == 1L)
    val marked = Replication.blockReceived(block, file, datanode, ops,
        corrupt = Some(marks)).collect().head
    assert(marked.getAs[Long]("liveAfter") == 2L)
    assert(marked.isNullAt(marked.fieldIndex("firstDrop")))
  }

  test("parity: blockReceived's mark exclusion agrees with corruptInvalidations' good count") {
    // The SAME standing mark set feeds both flows: blockReceived excludes
    // marked stored holders from liveAfter, corruptInvalidations counts
    // good (unmarked, live, NORMAL) replicas — countNodes in both places
    // (FSNamesystem.java:3290-3315). Law: the sweep converts a mark to
    // invalidation work IFF the per-op liveAfter (the same good count)
    // reaches the file's replication target.
    def state(replication: Long) = {
      val block = Seq((1L, 1L), (1L, 2L), (1L, 3L))
        .toDF("id", "datanodeId")
        .withColumn("fileId", lit(100L)).withColumn("generationStamp", lit(10L))
        .withColumn("length", lit(500L)).withColumn("fileIndex", lit(0L))
        .withColumn("version", col("datanodeId"))
      val file = Seq((100L, replication, 1000L, 1L))
        .toDF("id", "replication", "length", "version")
        .withColumn("leaseHolder", lit(null).cast("string"))
      val datanode = Seq(1L, 2L, 3L).toDF("id")
        .withColumn("location", lit("/r0")).withColumn("remaining", lit(100L))
        .withColumn("lastUpdated", lit(Now)).withColumn("adminState", lit("NORMAL"))
        .withColumn("version", col("id"))
      (block, file, datanode)
    }
    val ops = Seq((2L, 1L, 500L, 10L))
      .toDF("datanodeId", "blockId", "repLength", "repGenStamp")
      .withColumn("delHint", lit(null).cast("long"))
    val marks = Seq((1L, 3L)).toDF("blockId", "datanodeId")
    for (repl <- Seq(2L, 3L)) {
      val (block, file, datanode) = state(repl)
      val liveAfter = Replication.blockReceived(block, file, datanode, ops,
        corrupt = Some(marks)).collect().head.getAs[Long]("liveAfter")
      assert(liveAfter == 2L) // good = {1,2}: mark (1,3) excluded in both flows
      val sweepFires = Replication.corruptInvalidations(
        marks, block, file, datanode, Now).count() > 0
      assert(sweepFires == (liveAfter >= repl),
        s"replication=$repl: sweep=$sweepFires, liveAfter=$liveAfter")
    }
  }
}
