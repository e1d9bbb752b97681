package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.{Dataflows, Placement}

/** N-layer behavioral tests on FIXTURES.md §2-shaped inputs, mirroring
  * the FSNamesystem.java:2520-2594 classification matrix. */
class DataflowsSpec extends SparkSpec {
  import spark.implicits._

  private val now = 1000000L

  private lazy val file: DataFrame = Seq(
    (3L, 2L, "f1", 100L, 64L, 2L, 0L, 0L, 0L, None: Option[String], 0L, 4L),
  ).toDF("id", "parentId", "name", "length", "blockSize", "replication",
    "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")

  private lazy val block: DataFrame = Seq(
    (201L, 11L, 40L, 5L, 3L, 1L, 10L), // will be reported ok
    (201L, 12L, 40L, 5L, 3L, 1L, 11L), // stored, not reported -> toRemove
    (202L, 11L, 30L, 7L, 3L, 2L, 12L), // reported with longer length -> toAdd
    (203L, 12L, 20L, 9L, 3L, 3L, 13L), // dn12 has stale genstamp replica
    (203L, 11L, 20L, 8L, 3L, 3L, 14L), // reported gs 8 < max 9 -> toInvalidate
  ).toDF("id", "datanodeId", "length", "generationStamp", "fileId", "fileIndex", "version")

  private lazy val reported: DataFrame = Seq(
    (11L, 201L, 40L, 5L),  // matches -> ok
    (11L, 202L, 35L, 7L),  // length differs -> toAdd
    (11L, 203L, 20L, 8L),  // stale genstamp -> toInvalidate
    (11L, 299L, 10L, 1L),  // never stored -> toAdd
  ).toDF("datanodeId", "blockId", "repLength", "repGenStamp")

  test("N14: safe-mode status uses the reference's truncated threshold") {
    // (blockId, replica holders): safe ⇔ holders ≥ minReplication (2)
    def blks(pairs: Seq[(Long, Seq[Long])]): DataFrame =
      pairs.flatMap { case (b, dns) => dns.map(d => (b, d, 40L, 1L, 3L, 1L, b)) }
        .toDF("id", "datanodeId", "length", "generationStamp", "fileId",
          "fileIndex", "version")
    def inSafe(b: DataFrame): Boolean = Dataflows
      .safeModeStatus(b, minReplication = 2, thresholdPct = 0.999)
      .collect().head.getAs[Boolean]("inSafeMode")
    // 99 safe of 100: threshold (int)(100 × .999) = 99; 99 >= 99 → OUT
    val b99 = blks((1L to 99L).map(i => (i, Seq(1L, 2L))) :+ (100L -> Seq(1L)))
    assert(!inSafe(b99))
    // 98 safe of 100: 98 < 99 → IN safe mode
    val b98 = blks((1L to 98L).map(i => (i, Seq(1L, 2L))) ++
      Seq(99L -> Seq(1L), 100L -> Seq(2L)))
    assert(inSafe(b98))
    // an empty namespace: threshold 0 → OUT of safe mode
    assert(!inSafe(b99.filter(col("id") > 999L)))
    // 4 blocks: threshold (int)(4 × .999) = 3, where rounding up would
    // give 4 — 2 safe keeps the namenode in, exactly 3 lets it out
    def status(b: DataFrame) = Dataflows.safeModeStatus(b, 2, 0.999)
      .select(col("totalBlocks"), col("safeBlocks"), col("inSafeMode")).collect()
      .map(_.toSeq).toSeq
    val two = blks(Seq(1L -> Seq(1L, 2L), 2L -> Seq(1L, 2L), 3L -> Seq(1L), 4L -> Seq(1L)))
    assert(status(two) == Seq(Seq(4L, 2L, true)))
    val three = blks(Seq(1L -> Seq(1L, 2L), 2L -> Seq(1L, 2L), 3L -> Seq(1L, 3L), 4L -> Seq(1L)))
    assert(status(three) == Seq(Seq(4L, 3L, false)))
  }

  test("N5: blockReport classification matrix") {
    val out = rows(Dataflows.reconcileReports(block, reported)
      .filter(col("datanodeId") === 11L)
      .select(col("blockId"), col("action")))
      .map(r => r.head -> r.last).toMap
    assert(out == Map(201L -> "ok", 202L -> "toAdd", 203L -> "toInvalidate", 299L -> "toAdd"))
    // stored-not-reported on dn12 → toRemove (the anti-join pass)
    val removed = rows(Dataflows.reconcileReports(block, reported)
      .filter(col("datanodeId") === 12L && col("action") === "toRemove")
      .select(col("blockId"))).map(_.head).toSet
    assert(removed == Set(201L, 203L))
    // markBlockAsCorrupt: an equal-genstamp replica reported SHORTER than
    // stored is corrupt → toInvalidate (a LONGER report stays toAdd)
    val blk = block.unionByName(Seq((204L, 11L, 50L, 5L, 3L, 4L, 15L))
      .toDF("id", "datanodeId", "length", "generationStamp", "fileId", "fileIndex", "version"))
    val repShort = Seq((11L, 204L, 40L, 5L))
      .toDF("datanodeId", "blockId", "repLength", "repGenStamp")
    val corrupt = rows(Dataflows.reconcileReports(blk, repShort)
      .filter(col("blockId") === 204L && col("repGenStamp").isNotNull)
      .select(col("action"))).map(_.head)
    assert(corrupt == Seq("toInvalidate"))
    // the corrupt rule arbitrates against the BlockEntry PRIMARY
    // (addStoredBlock compares storedBlockEntry.getLength()), so it fires
    // even when the reporting node holds NO stored replica of the block
    val repShort13 = Seq((13L, 204L, 40L, 5L))
      .toDF("datanodeId", "blockId", "repLength", "repGenStamp")
    val corrupt13 = rows(Dataflows.reconcileReports(blk, repShort13)
      .filter(col("blockId") === 204L && col("repGenStamp").isNotNull)
      .select(col("action"))).map(_.head)
    assert(corrupt13 == Seq("toInvalidate"))
    // ...and against the primary's length, NOT the reporting node's own
    // replica: dn12's replica (v21) is the primary at length 50, so dn11
    // reporting 45 > its own stored 40 is still corrupt
    val blk2 = block.unionByName(Seq(
        (205L, 11L, 40L, 5L, 3L, 5L, 20L),
        (205L, 12L, 50L, 5L, 3L, 5L, 21L))
      .toDF("id", "datanodeId", "length", "generationStamp", "fileId", "fileIndex", "version"))
    val rep205 = Seq((11L, 205L, 45L, 5L))
      .toDF("datanodeId", "blockId", "repLength", "repGenStamp")
    val corrupt205 = rows(Dataflows.reconcileReports(blk2, rep205)
      .filter(col("blockId") === 205L && col("repGenStamp").isNotNull)
      .select(col("action"))).map(_.head)
    assert(corrupt205 == Seq("toInvalidate"))
  }

  test("N5 streamed: per-datanode micro-batches + second pass equal the one-shot reconcile") {
    // extra stored replica on dn13, which never reports at all
    val blk = block.unionByName(Seq((204L, 13L, 9L, 1L, 3L, 4L, 15L))
      .toDF("id", "datanodeId", "length", "generationStamp", "fileId", "fileIndex", "version"))
    val rep12 = Seq((12L, 203L, 20L, 9L))
      .toDF("datanodeId", "blockId", "repLength", "repGenStamp")
    val feed = reported.unionByName(rep12)
    def counts(df: DataFrame) =
      rows(df.groupBy(col("datanodeId"), col("action")).agg(count(lit(1)).as("n")))
        .map(r => (r.head, r(1)) -> r(2)).toMap
    val oneShot = counts(Dataflows.reconcileReports(blk, feed))
    // the feed split into per-datanode micro-batches, each scoped...
    val batches = Dataflows.reconcileReportBatch(blk, reported)
      .unionByName(Dataflows.reconcileReportBatch(blk, rep12))
    // ...plus the second pass for never-reporting nodes (the SAME helper
    // the streamed query uses)
    val streamed = counts(batches.select(col("datanodeId"), col("action"))
      .unionByName(Dataflows.neverReportedRemovals(blk, feed)))
    assert(streamed == oneShot)
    assert(oneShot.contains((13L, "toRemove"))) // the second pass actually fired
  }

  test("N6: under-replication priority levels") {
    val dn = Seq(
      (11L, "dn11", "DS-11", 0L, 0L, 1000L, 0L, 900L, now - 1L, 0L, "/r1", "NORMAL", 1L),
      (12L, "dn12", "DS-12", 0L, 0L, 1000L, 0L, 900L, now - 9999999L, 0L, "/r1", "NORMAL", 2L),
    ).toDF("id", "name", "storageId", "ipcPort", "infoPort", "capacity", "dfsUsed",
      "remaining", "lastUpdated", "xceiverCount", "location", "adminState", "version")
    // dn12 dead → blocks 201/203 lose a replica; file expects 2
    val out = rows(Dataflows.underReplicated(block, file, dn, now, k = 10)
      .select(col("blockId"), col("liveReplicaCount"), col("priority")))
    val m = out.map(r => r.head -> (r(1), r(2))).toMap
    // all three blocks have exactly 1 live replica (dn12 is dead), expected 2
    assert(m(201L) == (1L, 0) && m(202L) == (1L, 0) && m(203L) == (1L, 0))
  }

  test("N5 post-pass: blocks of deleted files refine to report-time cleanup") {
    val actions = Dataflows.reconcileReports(block, reported)
    def refined(f: DataFrame) =
      rows(Dataflows.refineOrphanActions(actions, block, f)
        .filter(col("datanodeId") === 11L)
        .select(col("blockId"), col("action")))
        .map(r => r.head -> r.last).toMap
    // every file deleted since the feed: stored blocks → toRemove
    // (removeStoredBlock), the never-stored 299 resolves no file at all
    // → toInvalidate (rejectAddStoredBlock)
    assert(refined(file.withColumn("version", -col("version")))
      == Map(201L -> "toRemove", 202L -> "toRemove", 203L -> "toRemove",
             299L -> "toInvalidate"))
    // with the file alive the stage-1 classification passes through,
    // except the unknown 299, which no addStoredBlock could ever accept
    assert(refined(file)
      == Map(201L -> "ok", 202L -> "toAdd", 203L -> "toInvalidate",
             299L -> "toInvalidate"))
    // a reported-only replica of a block stored ELSEWHERE (dn13 reports
    // 201, stored on dn11/12): with the file dead there is no (dn13, 201)
    // row to remove — the replica must be invalidated, not "removed"
    val rep13 = reported.unionByName(
      Seq((13L, 201L, 40L, 5L)).toDF("datanodeId", "blockId", "repLength", "repGenStamp"))
    val out13 = rows(Dataflows.refineOrphanActions(
        Dataflows.reconcileReports(block, rep13),
        block, file.withColumn("version", -col("version")))
      .filter(col("datanodeId") === 13L)
      .select(col("blockId"), col("action")))
      .map(r => r.head -> r.last).toMap
    assert(out13 == Map(201L -> "toInvalidate"))
  }

  test("N6: round-robin budget split — a P0 flood does not starve P1") {
    val dn = Seq(
      (1L, "dn1", "DS-1", 0L, 0L, 1000L, 0L, 900L, now - 1L, 0L, "/r1", "NORMAL", 1L),
      (2L, "dn2", "DS-2", 0L, 0L, 1000L, 0L, 900L, now - 1L, 0L, "/r1", "NORMAL", 2L),
    ).toDF("id", "name", "storageId", "ipcPort", "infoPort", "capacity", "dfsUsed",
      "remaining", "lastUpdated", "xceiverCount", "location", "adminState", "version")
    val files = Seq((1L, 100L, 2L, 1L), (2L, 100L, 7L, 1L))
      .toDF("id", "length", "replication", "version")
    // 40 last-replica blocks (priority 0) vs 10 at 2/7 replicas (priority 1)
    val p0 = (0 until 40).map(i => (1000L + i, 1L, 1L, 1L))
    val p1 = (0 until 10).flatMap(i =>
      Seq((2000L + i, 1L, 2L, 1L), (2000L + i, 2L, 2L, 1L)))
    val blocks = (p0 ++ p1).toDF("id", "datanodeId", "fileId", "version")
    val out = rows(Dataflows.underReplicated(blocks, files, dn, now, k = 12)
      .select(col("blockId"), col("priority")))
    val byPrio = out.groupBy(_(1))
      .map { case (p, rs) => p -> rs.map(_.head.asInstanceOf[Long]).sorted }
    // strict (priority, blockId) top-12 would take 12 P0 blocks and starve
    // P1 entirely; the round-robin split gives each level its share
    assert(byPrio(0) == (1000L to 1005L).toSeq)
    assert(byPrio(1) == (2000L to 2005L).toSeq)
  }

  test("N6: roundRobinTakes spill-and-wrap allocation") {
    assert(Dataflows.roundRobinTakes(10, Array(1, 100, 100)).toSeq == Seq(1, 7, 2))
    assert(Dataflows.roundRobinTakes(10, Array(100, 0, 0)).toSeq == Seq(10, 0, 0))
    assert(Dataflows.roundRobinTakes(9, Array(100, 100, 100)).toSeq == Seq(3, 3, 3))
    assert(Dataflows.roundRobinTakes(10, Array(0, 0, 4)).toSeq == Seq(0, 0, 4))
    assert(Dataflows.roundRobinTakes(0, Array(5, 5, 5)).toSeq == Seq(0, 0, 0))
  }

  test("N6: budget-split laws on seeded random inputs") {
    // NB: per-level takes are deliberately NOT budget-monotone — one more
    // budget unit can shift the spill so an earlier level absorbs what a
    // later one held (budget 3→4 on demands (1,5,5) moves level 2 from 1
    // to 0) — so the laws checked are the ones the semantics guarantee
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 5000) {
      val budget = rnd.nextInt(300)
      val d = Array.fill(3)(rnd.nextInt(200))
      val t = Dataflows.roundRobinTakes(budget, d)
      assert(t.sum == math.min(budget, d.sum))                 // conservation
      assert((0 to 2).forall(l => t(l) >= 0 && t(l) <= d(l)))  // demand caps
      if (budget > 0 && d(0) > 0) assert(t(0) > 0)             // P0 served first
      // capping demand at the budget never changes the allocation (the
      // equivalence the per-level k-prune relies on)
      val capped = d.map(x => math.min(x, budget))
      assert(Dataflows.roundRobinTakes(budget, capped).toSeq == t.toSeq)
    }
  }

  test("N8: rack-aware excess drop never removes a rack while alternatives exist") {
    val dn = Seq((1L, "/rackA", 10L), (2L, "/rackA", 30L), (3L, "/rackB", 5L))
      .map { case (id, rack, rem) =>
        (id, s"dn$id", s"DS-$id", 0L, 0L, 1000L, 0L, rem, now - 1L, 0L, rack, "NORMAL", id)
      }
      .toDF("id", "name", "storageId", "ipcPort", "infoPort", "capacity", "dfsUsed",
        "remaining", "lastUpdated", "xceiverCount", "location", "adminState", "version")
    val files = Seq((1L, 100L, 2L, 1L)).toDF("id", "length", "replication", "version")
    val blocks = Seq((100L, 1L, 1L, 1L), (100L, 2L, 1L, 1L), (100L, 3L, 1L, 1L))
      .toDF("id", "datanodeId", "fileId", "version")
    val out = rows(Dataflows.excessReplicas(blocks, files, dn)
      .select(col("id"), col("datanodeId"), col("dropRank")))
    // pure least-space would drop dn3 (5 left) and lose rack B entirely;
    // the rack-aware order drops rack A's non-survivor dn1 instead
    assert(out == Seq(Seq(100L, 1L, 1)))
    // a DECOMMISSION_INPROGRESS holder leaves nonExcess entirely
    // (processOverReplicatedBlock): with dn1 decommissioning, only 2
    // NORMAL replicas remain = expected 2 → nothing is excess
    val dnDecom = dn.withColumn("adminState",
      when(col("id") === 1L, "DECOMMISSION_INPROGRESS").otherwise(col("adminState")))
    assert(rows(Dataflows.excessReplicas(blocks, files, dnDecom)
      .select(col("id"))).isEmpty)
  }

  test("N17: block synchronization reconciles to max genstamp, min length") {
    val out = rows(Dataflows.blockSynchronization(block)
      .select(col("id"), col("recoveredGenStamp"), col("recoveredLength"), col("syncReplicas")))
      .map(r => r.head -> r.tail).toMap
    assert(out(201L) == Seq(5L, 40L, 2L))
    assert(out(203L) == Seq(9L, 20L, 1L)) // gs-8 replica excluded
  }

  test("N1 distance: multi-level topology common-prefix ladder") {
    val dn = Seq(
      (1L, "/dc0/pod0/rackA", 1L), (2L, "/dc0/pod0/rackB", 2L),
      (3L, "/dc0/pod1/rackC", 3L), (4L, "/dc1/pod0/rackA", 4L),
      (5L, "/dc0/pod0/rackA", 5L),
    ).toDF("id", "location", "version")
    val blk = (1L to 5L).map(d => (900L, d, 10L, 1L, 3L, 1L, d))
      .toDF("id", "datanodeId", "length", "generationStamp", "fileId",
        "fileIndex", "version")
    val out = rows(Dataflows.replicasByDistance(blk, dn,
        clientRack = "/dc0/pod0/rackA", clientNodeId = 5L)
      .select(col("orderedReplicas"), col("nearestDistance"))).head
    // 0 same node, 2 same rack, 4 same pod, 6 same dc, 8 off-dc
    assert(out == Seq("5,1,2,3,4", 0))
    // flat topology keeps the classic 0/2/4 ladder
    val flat = Seq((1L, "/r0", 1L), (2L, "/r1", 2L), (3L, "/r0", 3L))
      .toDF("id", "location", "version")
    val blk2 = (1L to 3L).map(d => (901L, d, 10L, 1L, 3L, 1L, d))
      .toDF("id", "datanodeId", "length", "generationStamp", "fileId",
        "fileIndex", "version")
    val flatOut = rows(Dataflows.replicasByDistance(blk2, flat,
        clientRack = "/r0", clientNodeId = 1L)
      .select(col("orderedReplicas"), col("nearestDistance"))).head
    assert(flatOut == Seq("1,3,2", 0))
  }

  test("N15: content summary aggregates subtrees in one pass") {
    val tree = Seq(
      (0L, -1L, "", -1L, 1L), (1L, 0L, "a", -1L, 2L), (2L, 0L, "b", -1L, 3L),
      (3L, 1L, "f", 10L, 4L), (4L, 1L, "g", 20L, 5L), (5L, 2L, "h", 5L, 6L),
    ).toDF("id", "parentId", "name", "length", "version")
    val out = rows(Dataflows.contentSummary(tree, Seq(1L, 2L))
      .select(col("rootId"), col("length"), col("fileCount"), col("dirCount")))
      .map(r => r.head -> r.tail).toMap
    assert(out(1L) == Seq(30L, 2L, 1L))
    assert(out(2L) == Seq(5L, 1L, 1L))
  }

  test("N7: existing holders are never re-chosen and shift the case ladder") {
    val nodes = (1 to 6).map(i => Placement.Node(i.toLong, s"/r${i % 2}",
      remaining = 1000000L, xceiverCount = 2, adminState = "NORMAL"))
    for (seed <- 1L to 50L) {
      val holder = nodes.head // node 1, /r1
      val t = Placement.chooseTargets(nodes, 2, None, blockSize = 100,
        seed = seed, existing = Seq(holder))
      assert(t.size == 2 && !t.map(_.id).contains(holder.id)) // never re-chosen
      assert(t.head.rack != holder.rack) // 2nd overall goes to a remote rack
      assert(t(1).rack == t.head.rack)   // 3rd overall stays with the 2nd
    }
    // two existing holders already SHARING a rack: the next replica must
    // go to a remote rack (case 2 — never three replicas on one rack
    // while another rack is available)
    for (seed <- 1L to 50L) {
      val sameRack = Seq(nodes(1), nodes(3)) // ids 2, 4 — both /r0
      val t = Placement.chooseTargets(nodes, 1, None, blockSize = 100,
        seed = seed, existing = sameRack)
      assert(t.size == 1 && t.head.rack != "/r0")
    }
    // existing = Nil keeps the exact draw sequence of the old surface
    val t1 = Placement.chooseTargets(nodes, 3, Some("/r0"), blockSize = 100, seed = 7L)
    val t2 = Placement.chooseTargets(nodes, 3, Some("/r0"), blockSize = 100, seed = 7L,
      existing = Nil)
    assert(t1.map(_.id) == t2.map(_.id))
  }

  test("N7: placement respects racks, space and determinism") {
    val nodes = (1 to 6).map(i => Placement.Node(i.toLong, s"/r${i % 2}",
      remaining = 1000000L, xceiverCount = 2, adminState = "NORMAL"))
    val t1 = Placement.chooseTargets(nodes, 3, Some("/r0"), blockSize = 100, seed = 7L)
    val t2 = Placement.chooseTargets(nodes, 3, Some("/r0"), blockSize = 100, seed = 7L)
    assert(t1.map(_.id) == t2.map(_.id)) // deterministic under same seed
    assert(t1.size == 3 && t1.map(_.id).distinct.size == 3)
    assert(t1.head.rack == "/r0")         // writer-local first
    assert(t1(1).rack != t1.head.rack)    // second on a remote rack
    assert(t1(2).rack == t1(1).rack)      // third with the second
    // no-space nodes are never chosen
    val tight = nodes.map(_.copy(remaining = 10L))
    assert(Placement.chooseTargets(tight, 3, Some("/r0"), blockSize = 100, seed = 7L).isEmpty)
  }

  test("N11 -move: chain runs split on replica-less blocks; mirror dirs + tombstones") {
    // /d/f has five blocks: [live, MISSING, live, live, MISSING] →
    // chain 0 = {b0}, chain 1 = {b2, b3} (the reference closes the
    // current chain file at each replica-less block and skips it,
    // NamenodeFsck.java:377-397); the trailing missing block opens none.
    val files = Seq(
      (0L, 0L, "", -1L, 0L, 1L),
      (1L, 0L, "d", -1L, 0L, 2L),
      (2L, 1L, "f", 500L, 2L, 3L),
    ).map { case (id, p, n, len, repl, v) =>
      (id, p, n, len, 64L, repl, 0L, 0L, 0L, None: Option[String], 0L, v)
    }.toDF("id", "parentId", "name", "length", "blockSize", "replication",
      "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")
    val blocks = Seq(
      (90L, 11L, 100L, 1L, 2L, 0L, 20L),
      (91L, 99L, 110L, 1L, 2L, 1L, 21L), // holder 99 is dead → MISSING
      (92L, 11L, 120L, 1L, 2L, 2L, 22L),
      (93L, 12L, 130L, 1L, 2L, 3L, 23L),
      (94L, 99L, 140L, 1L, 2L, 4L, 24L), // dead again
    ).toDF("id", "datanodeId", "length", "generationStamp", "fileId",
      "fileIndex", "version")
    val dn = Seq((11L, "/r0", now, 1L), (12L, "/r1", now, 2L),
      (99L, "/r0", 0L, 3L)) // stale heartbeat = dead
      .toDF("id", "location", "lastUpdated", "version")

    val findings = rows(Dataflows.fsckFiles(files, blocks, dn, now)
      .select(col("path"), col("missingBlocks"), col("missingSize"),
        col("underBlocks"), col("misReplicatedBlocks")))
    // 2 missing; the 3 live blocks each sit on ONE rack with repl 2 in a
    // 2-rack cluster → under-replicated AND placement-violated; the 2
    // missing blocks are placement-violated too (empty rack set)
    assert(findings == Seq(Seq("/d/f", 2L, 250L, 3L, 5L)))

    val mv = rows(Dataflows.fsckMove(files, blocks, dn, now, idBase = 1000L)
      .select(col("writeOp"), col("tbl"), col("id"), col("parentId"),
        col("name"), col("length"), col("version"))
      .orderBy(col("writeOp"), col("tbl"), col("id"), col("name")))
    val ins = mv.filter(_.head == "insert")
    // created (path-ranked): /lost+found(1001) /lost+found/d(1002)
    // /lost+found/d/f(1003, a DIR) /lost+found/d/f/0(1004) /…/f/1(1005)
    assert(ins == Seq(
      Seq("insert", "file", 1001L, 0L, "lost+found", -1L, 1001L),
      Seq("insert", "file", 1002L, 1001L, "d", -1L, 1002L),
      Seq("insert", "file", 1003L, 1002L, "f", -1L, 1003L),
      Seq("insert", "file", 1004L, 1003L, "0", 100L, 1004L),
      Seq("insert", "file", 1005L, 1003L, "1", 250L, 1005L)))
    // original file + all five block rows tombstoned; old parent + root touched
    assert(mv.count(r => r.head == "tombstone" && r(1) == "file") == 1
      && mv.count(r => r.head == "tombstone" && r(1) == "block") == 5
      && mv.filter(_.head == "touch").map(_(2)).toSet == Set(1L, 0L)
      && mv.forall(_.head != "reject"))

    val del = rows(Dataflows.fsckDelete(files, blocks, dn, now)
      .select(col("writeOp"), col("tbl"), col("id")))
    assert(del.count(r => r.head == "tombstone" && r(1) == "block") == 5
      && del.exists(r => r.head == "tombstone" && r(1) == "file" && r(2) == 2L)
      && del.exists(r => r.head == "touch" && r(2) == 1L))
  }

  /** fsckMove over /d/f (id 2, parent 1) beside `extra` (id, parentId,
    * name, length) rows; block i of f sits on `holders(i)`, and holder 99
    * is dead. Rows are (writeOp, id, parentId, name, length), sorted. */
  private def fsckMoveOf(holders: Seq[Long],
                         extra: Seq[(Long, Long, String, Long)] = Nil): Seq[Seq[Any]] = {
    val files = (Seq((0L, 0L, "", -1L), (1L, 0L, "d", -1L), (2L, 1L, "f", 500L)) ++ extra)
      .map { case (id, p, n, len) =>
        (id, p, n, len, 64L, 2L, 0L, 0L, 0L, None: Option[String], 0L, id + 1L)
      }.toDF("id", "parentId", "name", "length", "blockSize", "replication",
        "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")
    val blocks = holders.zipWithIndex.map { case (h, i) =>
      (90L + i, h, 100L + i, 1L, 2L, i.toLong, 20L + i)
    }.toDF("id", "datanodeId", "length", "generationStamp", "fileId",
      "fileIndex", "version")
    val dn = Seq((11L, "/r0", now, 1L), (12L, "/r1", now, 2L), (99L, "/r0", 0L, 3L))
      .toDF("id", "location", "lastUpdated", "version")
    rows(Dataflows.fsckMove(files, blocks, dn, now, idBase = 1000L)
      .filter(col("tbl") === "file")
      .select(col("writeOp"), col("id"), col("parentId"), col("name"), col("length"))
      .orderBy(col("writeOp"), col("id")))
  }

  test("N11 -move: a FILE on the /lost+found chain rejects the source") {
    assert(fsckMoveOf(Seq(11L, 99L), extra = Seq((50L, 0L, "lost+found", 10L))) ==
      Seq(Seq("reject", 2L, null, null, null)))
  }

  test("N11 -move: a pre-existing /lost+found dir is reused and touched") {
    val mv = fsckMoveOf(Seq(11L, 99L, 12L), extra = Seq((50L, 0L, "lost+found", -1L)))
    assert(mv.filter(_.head == "insert") == Seq(
      Seq("insert", 1001L, 50L, "d", -1L),
      Seq("insert", 1002L, 1001L, "f", -1L),
      Seq("insert", 1003L, 1002L, "0", 100L),
      Seq("insert", 1004L, 1002L, "1", 102L)))
    // the old parent and the reused /lost+found; the root gains no child
    assert(mv.filter(_.head == "touch").map(_(1)) == Seq(1L, 50L))
  }

  test("N11 -move: chain files rank with the created dirs, so chain 10 precedes chain 2") {
    // 21 blocks alternating live/dead: chains 0..10, one live block each
    val mv = fsckMoveOf((0 until 21).map(i => if (i % 2 == 0) 11L else 99L))
    val chainFiles = mv.filter(r => r.head == "insert" && r(4) != -1L)
    assert(chainFiles.map(_(1)) == (1004L to 1014L))
    assert(chainFiles.map(_(3)) ==
      Seq("0", "1", "10", "2", "3", "4", "5", "6", "7", "8", "9"))
  }

  test("N11: a live null-location node holds live replicas but no rack, as in the oracle") {
    // the DuckDB oracle counts a null-location node's replicas through
    // COUNT(n.id) and leaves null out of COUNT(DISTINCT location)
    val files = Seq(
      (0L, 0L, "", -1L, 0L, 1L),
      (1L, 0L, "d", -1L, 0L, 2L),
      (10L, 1L, "a", 64L, 1L, 3L),
      (11L, 1L, "b", 64L, 2L, 4L),
    ).map { case (id, p, n, len, repl, v) =>
      (id, p, n, len, 64L, repl, 0L, 0L, 0L, None: Option[String], 0L, v)
    }.toDF("id", "parentId", "name", "length", "blockSize", "replication",
      "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")
    val blocks = Seq(
      (100L, 3L, 64L, 1L, 10L, 0L, 20L), // /d/a: only on the null-location node
      (101L, 1L, 64L, 1L, 11L, 0L, 21L), // /d/b: one racked + the null node
      (101L, 3L, 64L, 1L, 11L, 0L, 22L),
    ).toDF("id", "datanodeId", "length", "generationStamp", "fileId",
      "fileIndex", "version")
    def nodes(racks: (Long, Option[String], Long)*) = racks
      .map { case (id, loc, seen) => (id, loc, seen, id) }
      .toDF("id", "location", "lastUpdated", "version")
    // one live rack (node 4's rack is dead): no placement finding at all
    val oneRack = nodes((1L, Some("/r1"), now), (3L, None, now), (4L, Some("/r2"), 0L))
    // two live racks: /d/a spans 0 racks of 1 wanted, /d/b 1 of 2
    val twoRacks = nodes((1L, Some("/r1"), now), (2L, Some("/r2"), now), (3L, None, now))
    val summary = Seq("missingBlocks", "underReplicatedBlocks",
      "misReplicatedBlocks", "minReplicatedBlocks", "corruptFiles", "avgReplication")
    def fsck(dn: DataFrame) =
      rows(Dataflows.fsck(files, blocks, dn, now).select(summary.map(col): _*)).head
    assert(fsck(oneRack) == Seq(0L, 0L, 0L, 2L, 0L, 1.5))
    assert(fsck(twoRacks) == Seq(0L, 0L, 2L, 2L, 0L, 1.5))
    def findings(dn: DataFrame) = rows(Dataflows.fsckFiles(files, blocks, dn, now)
      .select(col("path"), col("missingBlocks"), col("underBlocks"),
        col("misReplicatedBlocks")).orderBy(col("path")))
    assert(findings(oneRack).isEmpty)
    assert(findings(twoRacks) == Seq(Seq("/d/a", 0L, 0L, 1L), Seq("/d/b", 0L, 0L, 1L)))
    def detail(dn: DataFrame) = rows(Dataflows.fsckBlocks(files, blocks, dn, now)
      .select(col("blockId"), col("liveReplicas"), col("missing"),
        col("misReplicated"), col("locations"), col("racks")).orderBy(col("blockId")))
    assert(detail(oneRack) == Seq(Seq(100L, 1L, false, false, "3", ""),
      Seq(101L, 2L, false, false, "1,3", "/r1")))
    assert(detail(twoRacks) == Seq(Seq(100L, 1L, false, true, "3", ""),
      Seq(101L, 2L, false, true, "1,3", "/r1")))
  }
}
