package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.state.StateManager

/** Replication bookkeeping the monitor loop reads and writes (SURVEY
  * §2.4 N9/N10): the PendingReplicationBlocks lifecycle
  * (H/org/apache/hadoop/hdfs/server/namenode/PendingReplicationBlocks.java),
  * the CorruptReplicasMap standing state
  * (H/.../namenode/CorruptReplicasMap.java wired through
  * FSNamesystem.java:666-701, 2648-2657) and the heartbeat command caps
  * (handleHeartbeat, FSNamesystem.java:1801-1935) — each as a
  * declarative merge over a small standing table, never a scan-the-world
  * loop.
  *
  * The `pending` table is (blockId, inFlight, since): one row per block
  * with replications in flight, the in-flight target count and the
  * schedule (or last re-schedule) timestamp. It is work-list-sized —
  * bounded by budget × timeout/tickInterval, namenode-memory-scale like
  * the reference's HashMap — so every join against big tables broadcasts
  * the pending side.
  */
object Replication {

  private def live(df: DataFrame) = graft.store.StateStore.live(df)

  // ---- N10: PendingReplicationBlocks lifecycle -------------------------

  /** pendingReplications.add for a batch of scheduled work
    * (PendingReplicationBlocks.java:69-79, called from
    * computeReplicationWorkForBlock at FSNamesystem.java:2173): a block
    * new to the table inserts with (numTargets, now); an existing entry
    * increments its in-flight count AND resets its timestamp (the
    * reference's found.incrementReplicas + setTimeStamp). `scheduled`:
    * (blockId, numTargets) — the tick's replication work with
    * numTargets = size(targetDatanodeIds). */
  def pendingAfterSchedule(pending: DataFrame, scheduled: DataFrame,
                           nowMs: Long): DataFrame = {
    val s = scheduled.groupBy(col("blockId"))
      .agg(sum(col("numTargets")).as("__add"))
    pending.join(s, Seq("blockId"), "full_outer")
      .select(col("blockId"),
        (coalesce(col("inFlight"), lit(0L)) + coalesce(col("__add"), lit(0L)))
          .as("inFlight"),
        when(col("__add").isNotNull, lit(nowMs)).otherwise(col("since"))
          .as("since"))
  }

  /** pendingReplications.remove, one per blockReceived
    * (PendingReplicationBlocks.java:86-97, called from blockReceived at
    * FSNamesystem.java:3028): decrement in-flight by the number of
    * receipts for the block, drop the entry when it reaches zero (the
    * reference removes at <= 0). A receipt for an untracked block is a
    * no-op, exactly like the reference's null lookup. `received`: one
    * row per received replica (blockId, ...). */
  def pendingAfterReceipts(pending: DataFrame, received: DataFrame): DataFrame = {
    val r = received.groupBy(col("blockId")).agg(count(lit(1)).as("__done"))
    pending.join(r, Seq("blockId"), "left")
      .select(col("blockId"),
        (col("inFlight") - coalesce(col("__done"), lit(0L))).as("inFlight"),
        col("since"))
      .filter(col("inFlight") > 0L)
  }

  /** pendingReplicationCheck (PendingReplicationBlocks.java:189-207):
    * the entries whose request aged past `timeoutMs` (reference default
    * 5 minutes) — the timedOutItems the monitor hands to
    * processPendingReplications. */
  def pendingTimedOut(pending: DataFrame, nowMs: Long,
                      timeoutMs: Long = 5 * 60 * 1000L): DataFrame =
    pending.filter(lit(nowMs) > col("since") + lit(timeoutMs))

  /** processPendingReplications (FSNamesystem.java:2324-2334): each
    * timed-out block re-enters neededReplications with its CURRENT
    * replica statistics — without this, a lost replication command is
    * never retried and under-replication leaks at cluster scale. Emits
    * (blockId, fileId, liveReplicaCount, expectedReplication, priority)
    * for timed-out blocks still under-replicated against live NORMAL
    * nodes (the same count and the same priority ladder N6 scores with;
    * UnderReplicatedBlocks.add ignores a block that has recovered, hence
    * the < expected filter). Queue membership, not the budgeted pick —
    * the next N6 tick picks from the re-entered queue.
    *
    * Scale shape: the timed-out set is work-list-sized, so it PUSHES
    * into the block scan as an IN predicate (Scale.keyPrune — row-group/
    * bucket pruning; the old broadcast semi-join filtered after the scan
    * and still streamed the whole table: 16.5 s at 140× for a 375-key
    * list) — per tick this reads only the timed-out blocks' replica
    * rows. */
  def pendingRequeue(timedOut: DataFrame, block: DataFrame, file: DataFrame,
                     datanode: DataFrame, nowMs: Long): DataFrame = {
    val liveNodeIds = StateManager.liveDatanodes(datanode, nowMs)
      .filter(col("adminState") === "NORMAL")
      .select(col("id").as("nodeId"))
    val pruned = graft.core.Scale.keyPrune(
      live(block), "id", timedOut, "blockId")
    // LEFT join the live-node dimension: a timed-out block whose replicas
    // all sit on dead nodes must still re-enter the queue (liveReplicaCount
    // 0), matching neededReplications.add with num.liveReplicas() == 0 —
    // N6's inner-semi shape would silently drop it
    val counts = pruned
      .join(liveNodeIds, col("datanodeId") === col("nodeId"), "left")
      .groupBy(col("id").as("blockId"), col("fileId"))
      .agg(count(col("nodeId")).as("liveReplicaCount"))
    val expected = live(file).filter(col("length") =!= -1L)
      .select(col("id").as("fid"), col("replication").as("expectedReplication"))
    counts.join(expected, col("fileId") === col("fid")).drop("fid")
      .filter(col("liveReplicaCount") < col("expectedReplication"))
      .withColumn("priority",
        when(col("liveReplicaCount") <= 1, lit(0))
          .when(col("liveReplicaCount") * 3 < col("expectedReplication"), lit(1))
          .otherwise(lit(2)))
  }

  /** The pending discount inside one replication-monitor tick
    * (computeReplicationWorkForBlock, FSNamesystem.java:2120-2128):
    * effective replicas = live + in-flight, so a block with enough work
    * already scheduled schedules nothing more, and the rest carry
    * needed = expected − effective targets. Input `workList` is the N6
    * pick ((blockId, fileId, liveReplicaCount, expectedReplication,
    * priority) rows); output appends (pendingReplicas, effectiveReplicas,
    * needed) and keeps only rows that still need work. `pending` is the
    * standing table — broadcast, work-list-sized. */
  def discountPending(workList: DataFrame, pending: DataFrame): DataFrame =
    workList
      .join(broadcast(pending.select(col("blockId"), col("inFlight"))),
        Seq("blockId"), "left")
      .withColumn("pendingReplicas", coalesce(col("inFlight"), lit(0L)))
      .drop("inFlight")
      .withColumn("effectiveReplicas",
        col("liveReplicaCount") + col("pendingReplicas"))
      .withColumn("needed", col("expectedReplication") - col("effectiveReplicas"))
      .filter(col("needed") > 0L)

  // ---- CorruptReplicasMap (FSNamesystem.java:666-701, 2648-2657) -------

  /** The standing corrupt-replica marks derived from N5 classification
    * output: a stored replica the reconciliation decided to invalidate is
    * exactly what markBlockAsCorrupt records (stale genstamp or short
    * length vs the entry primary, FSNamesystem.java:2648-2657). A
    * reported-only toInvalidate has no stored replica row to mark — the
    * invalidation command alone handles it. */
  def corruptMarks(actions: DataFrame): DataFrame =
    actions
      .filter(col("action") === "toInvalidate" && col("storedGenStamp").isNotNull)
      .select(col("blockId"), col("datanodeId")).distinct()

  /** invalidateCorruptReplicas (FSNamesystem.java:2760-2780, gated at
    * :2736 by corruptReplicas > 0 && liveReplicas >= replication): once a
    * block has enough GOOD live replicas, its corrupt marks convert to
    * invalidation work (one row per corrupt replica) and leave the map.
    * Emits (blockId, datanodeId, action='toInvalidate'); the map after
    * the sweep is marks minus these rows. Good = live replica on a live
    * NORMAL node without a mark. */
  def corruptInvalidations(marks: DataFrame, block: DataFrame, file: DataFrame,
                           datanode: DataFrame, nowMs: Long): DataFrame = {
    val liveNodeIds = StateManager.liveDatanodes(datanode, nowMs)
      .filter(col("adminState") === "NORMAL")
      .select(col("id").as("nodeId"))
    // marks are corrupt-set-sized (namenode-memory scale): push their
    // blockIds into the scan so only marked blocks' replica rows are
    // ever READ (keyPrune — the pendingRequeue scan-prune discipline)
    val markDim = marks
      .select(col("blockId").as("__mbid"), col("datanodeId").as("__mdid"),
        lit(true).as("__marked"))
    val markedRows = graft.core.Scale.keyPrune(
      live(block), "id", marks, "blockId").localCheckpoint()
    val goodCounts = markedRows
      .join(liveNodeIds, col("datanodeId") === col("nodeId"), "left_semi")
      .join(broadcast(markDim),
        col("id") === col("__mbid") && col("datanodeId") === col("__mdid"), "left")
      .filter(col("__marked").isNull)
      .groupBy(col("id").as("__gbid"))
      .agg(count(lit(1)).as("__good"))
    val expected = live(file).filter(col("length") =!= -1L)
      .select(col("id").as("__fid"), col("replication"))
    // same pruned rows as goodCounts (the checkpoint serves both): the
    // owner lookup must never distinct-aggregate the ENTIRE block table
    val owner = markedRows
      .select(col("id").as("__obid"), col("fileId")).distinct()
    // goodCounts/owner are corrupt-set-bounded (aggregates OVER the
    // pruned rows): broadcast them — a checkpointed marks frame carries
    // no stats, and Spark would otherwise sort-merge a bounded join
    marks
      .join(broadcast(goodCounts), col("blockId") === col("__gbid"), "left")
      .join(broadcast(owner), col("blockId") === col("__obid"), "left")
      .join(broadcast(expected), col("fileId") === col("__fid"), "left")
      .filter(coalesce(col("__good"), lit(0L)) >= col("replication"))
      .select(col("blockId"), col("datanodeId"),
        lit("toInvalidate").as("action"))
  }

  // ---- blockReceived per-op flow (FSNamesystem.java:2995-3050 → --------
  // ---- addStoredBlock :2627-2735 + chooseExcessReplicates delHint) -----

  /** The per-op incremental reconcile — blockReceived driving
    * addStoredBlock for a batch of receipts, each (datanodeId, blockId,
    * repLength, repGenStamp, delHint). Per op, against the CURRENT state:
    *
    *  - `rejectInvalidate`: the block has no live row at all, or its file
    *    is deleted (rejectAddStoredBlock :2739-2747 — the replica is
    *    invalidated);
    *  - `corruptInvalidate`: genstamp older than the entry primary's, or
    *    equal-genstamp but shorter (markBlockAsCorrupt :2648-2657);
    *  - `add`: no stored replica on the reporting node — a replica row
    *    insert (:2659-2673);
    *  - `update`: the stored row differs in genstamp or length, including
    *    the −1 → valid under-construction completion (:2674-2681);
    *  - `ignore`: byte-identical (:2682).
    *
    * For valid receipts (add/update/ignore) of a block that is NOT the
    * last block of an open file (the blockIsUnderConstruction skip,
    * :2640-2644,2706), the replication check runs: liveAfter = NORMAL
    * holders after the op (+ `pending` in-flight, :2712) vs the file's
    * target; over-replicated ops emit `firstDrop` — the one node
    * chooseExcessReplicates picks first, honoring delHint when the hint
    * holds a replica and (hint ∈ priSet ∨ addedNode ∉ priSet), where
    * priSet = nodes on racks holding >1 replica (:2869-2875); otherwise
    * the least-remaining-space node from priSet, falling back to all
    * holders (the reference's iterator-min; (remaining, datanodeId) is
    * the deterministic tie-break). A hint equal to the reporting node is
    * ignored (:2791-2793). Corrupt/reject receipts classify only — their
    * reporters never join the holder set (markBlockAsCorrupt
    * FSNamesystem.java:1252-1282 invalidates without inserting into the
    * block map), and a corrupt reporter that IS a stored holder has that
    * stored replica excluded too (markBlockAsCorrupt marks it, countNodes
    * then skips it) — so neither storeless nor stored corrupt reporters
    * can inflate liveAfter for co-batched valid receipts of the same
    * block. An optional standing corrupt-marks frame (blockId,
    * datanodeId) excludes marked stored replicas the same way, the
    * countNodes/processOverReplicatedBlock corrupt exclusion
    * (:2795-2806, :3290-3315).
    *
    * Scale shape: ops are batch-sized — they broadcast into left-semi
    * prunes of the block table (one for the ops' blocks, one for the
    * owner files' last-block index), so per-op cost is O(receipt batch),
    * never O(table). The batch sweep (reconcileReports) and this per-op
    * flow agree action-for-action on the same state — the parity law
    * ReplicationSpec pins (the one divergence: a −1-length stored replica
    * completing is per-op `update` but batch `ok`, the sweep's
    * non-actionable-UC convention). */
  def blockReceived(block: DataFrame, file: DataFrame, datanode: DataFrame,
                    opsIn: DataFrame, pending: Option[DataFrame] = None,
                    corrupt: Option[DataFrame] = None): DataFrame = {
    val b = live(block)
    // pin the receipt batch: it feeds the block prune, the stored-row
    // join and the post-op holder union — a view-backed ops frame (the
    // gate derives it from the reported view) would re-derive per
    // reference. Batch-sized by contract, so the checkpoint is bounded.
    val ops = opsIn.localCheckpoint()
    // ONE pruned scan feeds stored-row lookup, entry primary and holders;
    // the op batch's blockIds PUSH into the scan (keyPrune row-group
    // pruning) instead of semi-filtering after it
    val pruned = graft.core.Scale.keyPrune(b, "id", ops, "blockId")
      .localCheckpoint()
    val freshest = pruned.groupBy(col("id").as("__bid"))
      .agg(max(col("generationStamp")).as("maxGenStamp"),
        max_by(col("length"), struct(col("generationStamp"), col("version")))
          .as("freshestLength"),
        first(col("fileId")).as("__ownerFid"))
    val stored = pruned.select(col("id").as("blockId"), col("datanodeId"),
      col("length").as("storedLength"), col("generationStamp").as("storedGenStamp"))
    val fdim = live(file).select(col("id").as("__fid"),
      col("replication").as("expectedReplication"),
      col("leaseHolder").isNotNull.as("__open"))
    // last block index per owner file — the blockIsUnderConstruction gate
    // needs the file's TRUE last block, which may not be in the op batch
    val lastIdx = graft.core.Scale.keyPrune(b, "fileId",
        freshest.select(col("__ownerFid")), "__ownerFid")
      .groupBy(col("fileId").as("__lf"))
      .agg(max(col("fileIndex")).as("__lastIdx"))
    val opIdx = pruned
      .groupBy(col("id").as("__ib"))
      .agg(max(col("fileIndex")).as("__blkIdx"))
    val pend = pending.getOrElse(
      ops.sparkSession.emptyDataFrame
        .withColumn("blockId", lit(null).cast("long"))
        .withColumn("inFlight", lit(null).cast("long")))
      .select(col("blockId").as("__pb"), col("inFlight").as("__pin"))
    val classified = ops
      .join(stored, Seq("blockId", "datanodeId"), "left")
      .join(broadcast(freshest), col("blockId") === col("__bid"), "left")
      .join(broadcast(fdim), col("__ownerFid") === col("__fid"), "left")
      .join(broadcast(lastIdx), col("__ownerFid") === col("__lf"), "left")
      .join(broadcast(opIdx), col("blockId") === col("__ib"), "left")
      .join(broadcast(pend), col("blockId") === col("__pb"), "left")
      .withColumn("outcome",
        when(col("__bid").isNull, lit("rejectInvalidate"))
          .when(col("__fid").isNull, lit("rejectInvalidate"))
          .when(col("repGenStamp") < col("maxGenStamp"), lit("corruptInvalidate"))
          .when(col("repGenStamp") === col("maxGenStamp") &&
            col("repLength") < col("freshestLength"), lit("corruptInvalidate"))
          .when(col("storedGenStamp").isNull, lit("add"))
          .when(col("storedGenStamp") =!= col("repGenStamp") ||
            col("storedLength") =!= col("repLength"), lit("update"))
          .otherwise(lit("ignore")))
      .withColumn("__blockUC",
        col("__open") && col("__blkIdx") === col("__lastIdx"))
      // feeds the valid-op holder union below AND the final join — a
      // plain view would re-run the whole classification ladder twice;
      // op-batch-sized by contract, so the checkpoint is bounded
      .localCheckpoint()
    // post-op holder set per block, with rack/space for the excess pick —
    // the op node becomes a holder only after a VALID receipt: a corrupt
    // or rejected reporter never enters the block map in the reference
    // (markBlockAsCorrupt FSNamesystem.java:1252-1282 invalidates, never
    // inserts), so it must not inflate liveAfter for co-batched valid
    // receipts of the same block
    val ddim = live(datanode).select(col("id").as("__did"),
      col("location").as("__rack"), col("remaining").as("__rem"),
      col("adminState").as("__adm"))
    // no per-side distinct: holdersAll is distinct()'d once below, and
    // dedup before vs after the anti-join is set-equivalent — the two
    // inner exchanges were pure overhead (guide §2.4)
    val holderBase = pruned.select(col("id").as("__hb"), col("datanodeId"))
    val opNodes = classified
      .filter(col("outcome").isin("add", "update", "ignore"))
      .select(col("blockId").as("__hb"), col("datanodeId"))
    // a receipt that classified CORRUPT from a node that IS a stored
    // holder marks that stored replica corrupt in-batch: the reference's
    // markBlockAsCorrupt puts the reporter into corruptReplicas and
    // countNodes then excludes it (FSNamesystem.java:1252-1282,
    // :3290-3315) — so the stored row must leave the holder set too, or
    // a co-batched valid receipt of the same block would see an
    // inflated liveAfter and mis-aim its excess drop
    val opCorrupt = classified
      .filter(col("outcome") === "corruptInvalidate" &&
        col("storedGenStamp").isNotNull)
      .select(col("blockId").as("__mb"), col("datanodeId").as("__md"))
    // standing CorruptReplicasMap consult: countNodes/
    // processOverReplicatedBlock (FSNamesystem.java:2795-2806,3290-3315)
    // exclude corrupt-marked replicas from liveReplicas/nonExcess, so a
    // stored-but-marked replica is neither counted live nor an excess-
    // drop candidate here — mirror corruptInvalidations' markDim anti-join
    val markDim = (corrupt match {
      case Some(m) =>
        m.select(col("blockId").as("__mb"), col("datanodeId").as("__md"))
          .unionByName(opCorrupt)
      case None => opCorrupt
    }).distinct()
    val holdersAll = holderBase.unionByName(opNodes).join(broadcast(markDim),
      col("__hb") === col("__mb") && col("datanodeId") === col("__md"),
      "left_anti")
    val holders = holdersAll.distinct()
      .join(broadcast(ddim), col("datanodeId") === col("__did"), "left")
      // processOverReplicatedBlock drops decommissioning holders from
      // nonExcess (:2798-2808); an unknown-node holder keeps candidacy
      .filter(col("__adm").isNull || col("__adm") === "NORMAL")
      .withColumn("__rackKey",
        coalesce(col("__rack"), concat(lit("?"), col("datanodeId").cast("string"))))
    val wBlk = Window.partitionBy(col("__hb"))
    val wRack = Window.partitionBy(col("__hb"), col("__rackKey"))
    val ranked = holders
      .withColumn("__cnt", count(lit(1)).over(wBlk))
      .withColumn("__pri", count(lit(1)).over(wRack) > 1)
      .withColumn("__stdRank", row_number().over(wBlk.orderBy(
        col("__pri").desc, col("__rem").asc_nulls_last, col("datanodeId").asc)))
      .localCheckpoint() // feeds three probes below; holder-set-sized
    val stdPick = ranked.filter(col("__stdRank") === 1)
      .select(col("__hb").as("__sb"), col("datanodeId").as("__stdDrop"))
    val cnts = ranked.groupBy(col("__hb").as("__cb"))
      .agg(max(col("__cnt")).as("__liveAfter"))
    val hintFlags = ranked.select(col("__hb").as("__fb"),
      col("datanodeId").as("__fd"), col("__pri"))
    classified
      .join(broadcast(cnts), col("blockId") === col("__cb"), "left")
      .join(broadcast(stdPick), col("blockId") === col("__sb"), "left")
      .join(broadcast(hintFlags.withColumnRenamed("__pri", "__hintPri")),
        col("blockId") === col("__fb") && col("delHint") === col("__fd") &&
          col("delHint") =!= col("datanodeId"), "left")
      .join(broadcast(hintFlags
          .select(col("__fb").as("__ab"), col("__fd").as("__ad"),
            col("__pri").as("__addedPri"))),
        col("blockId") === col("__ab") && col("datanodeId") === col("__ad"), "left")
      .withColumn("__valid", col("outcome").isin("add", "update", "ignore"))
      .withColumn("liveAfter",
        when(col("__valid"), coalesce(col("__liveAfter"), lit(0L))))
      .withColumn("__excess",
        col("__valid") && !coalesce(col("__blockUC"), lit(false)) &&
          col("liveAfter") + coalesce(col("__pin"), lit(0L)) >
            col("expectedReplication"))
      .withColumn("firstDrop",
        when(col("__excess"),
          when(col("__fb").isNotNull &&
            (col("__hintPri") || !coalesce(col("__addedPri"), lit(false))),
            col("delHint"))
            .otherwise(col("__stdDrop"))))
      .select(col("datanodeId"), col("blockId"), col("outcome"),
        col("liveAfter"), col("expectedReplication"), col("firstDrop"))
  }

  // ---- N9: heartbeat command caps (handleHeartbeat :1801-1935) ---------

  /** The per-heartbeat command cap, batch form — ONE definition shared
    * with [[graft.streaming.Changefeed.heartbeatCommands]]'s per-batch
    * body (stream/batch parity): the reporting nodes pick up their queued
    * work capped the way the reference caps it (:1841-1846) — at most
    * maxReplicationStreams − xmitsInProgress replication commands and at
    * most blockInvalidateLimit invalidations, in blockId order, so a node
    * with a deep queue drains across beats instead of being handed
    * unbounded work. `work`: (datanodeId, blockId, command ∈
    * replicate|invalidate, ...); `beating`: (datanodeId[, xmitsInProgress])
    * — one row per reporting node. */
  def capCommands(work: DataFrame, beating: DataFrame,
                  maxReplicationStreams: Int = 2,
                  blockInvalidateLimit: Int = 100): DataFrame = {
    val hasXmits = beating.columns.contains("xmitsInProgress")
    val nodes =
      if (hasXmits)
        beating.groupBy(col("datanodeId"))
          .agg(max(col("xmitsInProgress")).as("__xmits"))
      else beating.select(col("datanodeId")).distinct()
    // coalesce: a null xmits value means "none in flight", not a zeroed cap
    val replCap =
      if (hasXmits)
        greatest(lit(0),
          lit(maxReplicationStreams) - coalesce(col("__xmits"), lit(0L)))
      else lit(maxReplicationStreams)
    val w = Window.partitionBy(col("datanodeId"), col("command"))
      .orderBy(col("blockId"))
    val capped = work
      .join(nodes, Seq("datanodeId"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <=
        when(col("command") === "replicate", replCap)
          .otherwise(lit(blockInvalidateLimit)))
      .drop("__rn")
    if (hasXmits) capped.drop("__xmits") else capped
  }
}
