package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.state.{Mutations, StateManager}

/** Namenode dataflow operators (SURVEY §2.4,
  * H/org/apache/hadoop/hdfs/server/namenode/FSNamesystem.java) as
  * declarative DataFrame queries. These are the engine's "hard" analytics:
  * a cumulative-window range selection, a full-outer-join classification,
  * two top-k-by-computed-priority shapes and a namespace-wide aggregation.
  */
object Dataflows {

  private def live(df: DataFrame) = graft.store.StateStore.live(df)

  // ---- N1: getBlockLocations (FSNamesystem.java:596-700) ---------------

  /** For each (fileId, offset, length) request: select the blocks whose
    * cumulative-length range overlaps [offset, offset+length), attach the
    * replica list. The reference walks blocks one-by-one (:643-700); here
    * the walk is a window cumulative sum — one pass, any number of
    * requests at once. */
  def blockLocations(block: DataFrame, requests: DataFrame): DataFrame = {
    // prune to requested files AT THE SCAN: the request set is tiny vs a
    // 100 TB block table, so its fileIds push into the scan as an IN
    // predicate (Scale.keyPrune — row-group/bucket pruning on the
    // materialized layout; the semi-join it replaced filtered AFTER the
    // scan and streamed the whole table), and the groupBy/window shuffle
    // carries only wanted blocks
    val pruned = graft.core.Scale.keyPrune(block, "fileId", requests, "fileId")
    val entries = StateManager.blockEntries(pruned)
    val w = Window.partitionBy(col("fileId")).orderBy(col("fileIndex"))
    val ranged = entries
      .withColumn("blockStart",
        coalesce(sum(greatest(col("blockLength"), lit(0L)))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("blockEnd", col("blockStart") + greatest(col("blockLength"), lit(0L)))
    ranged.join(requests.withColumnRenamed("fileId", "reqFileId"),
        col("fileId") === col("reqFileId") &&
        col("blockStart") < col("offset") + col("reqLen") &&
        (col("blockEnd") > col("offset") || col("blockLength") === -1L))
      .drop("reqFileId")
  }

  /** N1 final step — pseudoSortByDistance (FSNamesystem.java:600-603,
    * NetworkTopology.getDistance NetworkTopology.java:434-470): order each
    * block's replicas by network distance to the client, datanodeId as the
    * deterministic tie-break. The topology is an arbitrary-depth
    * slash-path tree (/dc/rack, /dc/pod/rack, …): distance between two
    * hosts = 2 × (rackDepth − commonPrefixSegments) + 2, the getDistance
    * walk for the uniform-depth tree every real deployment runs (its
    * unequal-level branches only fire on nodes outside the cluster →
    * MAX_VALUE warnings). Same node = 0; a flat '/rackN' topology
    * reproduces the classic 0/2/4 ladder, an unknown (null) location
    * ranks beyond every shared level. The client rack is a plan-time
    * constant, so the ladder compiles to a prefix-match CASE — pure
    * codegen, no per-row path splitting. */
  /** THE getDistance prefix-match ladder (NetworkTopology.java:434-470 —
    * see [[replicasByDistance]] for the semantics), one definition for
    * both overloads: a fix to the ladder must never diverge between the
    * plain and the corrupt-aware paths. Returns the complete CASE column
    * including the beyond-every-shared-level default. */
  private def distanceLadder(clientRack: String, clientNodeId: Long): Column = {
    val cSegs = clientRack.split("/").filter(_.nonEmpty)
    val depth = cSegs.length
    var ladder = when(col("datanodeId") === clientNodeId, 0)
      .when(col("location") === clientRack, 2)
    for (k <- (depth - 1) to 1 by -1)
      ladder = ladder.when(
        col("location").startsWith("/" + cSegs.take(k).mkString("/") + "/"),
        2 * (depth - k) + 2)
    ladder.otherwise(2 * depth + 2)
  }

  def replicasByDistance(block: DataFrame, datanode: DataFrame,
                         clientRack: String, clientNodeId: Long = -1L): DataFrame = {
    val nodes = live(datanode).select(col("id").as("nodeId"), col("location"))
    live(block)
      .join(nodes, col("datanodeId") === col("nodeId"), "left")
      .withColumn("distance", distanceLadder(clientRack, clientNodeId))
      .groupBy(col("id"))
      .agg(first(col("fileId")).as("fileId"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("distance"), col("datanodeId")))),
            x => x.getField("datanodeId").cast("string")),
          ",").as("orderedReplicas"),
        min(col("distance")).as("nearestDistance"))
  }

  /** [[replicasByDistance]] consulting the standing CorruptReplicasMap
    * (FSNamesystem.java:666-701): known-corrupt replicas are EXCLUDED
    * from the returned machine set while at least one good replica
    * remains; when every replica is corrupt the block is served anyway —
    * all replicas included — and flagged (`blockCorrupt`, the reference's
    * corrupt-marked LocatedBlock). `corrupt`: (blockId, datanodeId) marks
    * (see [[Replication.corruptMarks]]) — corrupt-set-sized, broadcast.
    * The distance ladder and ordering are [[replicasByDistance]]'s; the
    * exclusion runs in array-land AFTER the one aggregation, so the plan
    * shape (one groupBy over the pruned replicas) is unchanged. */
  def replicasByDistance(block: DataFrame, datanode: DataFrame,
                         clientRack: String, clientNodeId: Long,
                         corrupt: DataFrame): DataFrame = {
    val nodes = live(datanode).select(col("id").as("nodeId"), col("location"))
    val markDim = corrupt
      .select(col("blockId").as("__mbid"), col("datanodeId").as("__mdid"),
        lit(true).as("__corrupt"))
    live(block)
      .join(nodes, col("datanodeId") === col("nodeId"), "left")
      .join(broadcast(markDim),
        col("id") === col("__mbid") && col("datanodeId") === col("__mdid"), "left")
      .withColumn("distance", distanceLadder(clientRack, clientNodeId))
      .withColumn("__bad", coalesce(col("__corrupt"), lit(false)))
      .groupBy(col("id"))
      .agg(first(col("fileId")).as("fileId"),
        array_sort(collect_list(
          struct(col("distance"), col("datanodeId"), col("__bad")))).as("__all"))
      .withColumn("__good",
        filter(col("__all"), x => !x.getField("__bad")))
      .withColumn("blockCorrupt", size(col("__good")) === 0)
      .withColumn("__sel",
        when(col("blockCorrupt"), col("__all")).otherwise(col("__good")))
      .select(col("id"), col("fileId"),
        array_join(transform(col("__sel"),
          x => x.getField("datanodeId").cast("string")), ",").as("orderedReplicas"),
        element_at(col("__sel"), 1).getField("distance").as("nearestDistance"),
        col("blockCorrupt"))
  }

  /** N1 side effect (FSNamesystem.java:636-641): when access-time tracking
    * is on, getBlockLocations touches File.ATIME before returning located
    * blocks — the read path WRITES. For a batch of requested fileIds, emit
    * the touch write-set: (id, atime = now, version bump) for every live
    * non-directory target (a missing or dir target returns null at :637
    * and touches nothing). The requested fileIds push into the scan as
    * an IN predicate (Scale.keyPrune) so the touch never reads
    * unrequested file rows — or their row groups. */
  def atimeTouch(file: DataFrame, requests: DataFrame, nowMs: Long,
                 versionBump: Long = 1000000000L): DataFrame =
    graft.core.Scale.keyPrune(live(file), "id", requests, "fileId")
      .filter(col("length") =!= -1L)
      .select(col("id"), lit(nowMs).as("atime"),
        (col("version") + versionBump).as("version"))

  // ---- N5: blockReport reconciliation (:2468-2620) ---------------------

  /** Full-outer-join a datanode's reported blocks against the stored
    * replica rows and classify (:2520-2594):
    *  - toAdd:        reported, not stored (or stored with older genstamp)
    *  - toInvalidate: reported with a STALE genstamp vs the file's max,
    *                  or equal-genstamp but SHORTER than the primary
    *  - toRemove:     stored but not reported (lost replica)
    *  - ok:           lengths+genstamps agree.
    * `reported` columns: datanodeId, blockId, repLength, repGenStamp. */
  def reconcileReports(block: DataFrame, reported: DataFrame,
                       genStampArbiter: Option[DataFrame] = None): DataFrame = {
    val stored = live(block).select(
      col("id").as("blockId"), col("datanodeId"),
      col("length").as("storedLength"), col("generationStamp").as("storedGenStamp"))
    // per-block freshest replica across ALL replicas — the BlockEntry
    // primary (argmax by (generationStamp, version), BlockEntry.java:47-61)
    // arbitrating stale-report detection (older genstamp loses,
    // :2520-2552) AND the corrupt-length rule below. Derived from the
    // same `block` frame unless the caller scoped it down (per-datanode
    // micro-batches) and supplies the global table to arbitrate against.
    val arbiterSrc = genStampArbiter.map(live).getOrElse(live(block))
    // max_by over a struct ordering key forces a SortAggregate pair (the
    // struct agg buffer is not hash-aggregable). Packing (genStamp,
    // version) into ONE numeric key would make it hash-aggregable, but
    // no lossless 64-bit packing exists: both fields are unbounded
    // BIGINTs by the table contract (the synthetic derivation alone has
    // version ≈ 4×blockId, past 2^43 by ~sf1000), and any split
    // gs·2^k + v silently mis-orders once v ≥ 2^k — r20 examined and
    // closed (DECIMAL(38) / HUGEINT buffers are no more hash-aggregable
    // than the struct). The bucketed layout removes the exchange under
    // this aggregate, which is the deployment answer.
    val freshest = arbiterSrc.groupBy(col("id").as("__bid"))
      .agg(max(col("generationStamp")).as("maxGenStamp"),
        max_by(col("length"), struct(col("generationStamp"), col("version")))
          .as("freshestLength"))
    reported
      .join(stored, Seq("datanodeId", "blockId"), "full_outer")
      .join(freshest, col("blockId") === col("__bid"), "left").drop("__bid")
      .withColumn("action",
        when(col("repGenStamp").isNull, lit("toRemove"))
          .when(col("repGenStamp") < coalesce(col("maxGenStamp"), col("repGenStamp")), lit("toInvalidate"))
          // markBlockAsCorrupt (addStoredBlock, FSNamesystem.java:2648-2657):
          // a replica reported with the primary's genstamp but SHORTER than
          // the BlockEntry primary length is corrupt — whether or not the
          // reporting node already holds a stored replica, so this fires
          // BEFORE the never-stored toAdd branch. A -1 (under-construction)
          // primary length corrupts nothing: no report is < -1.
          .when(col("repGenStamp") === col("maxGenStamp") &&
                col("repLength") < col("freshestLength"), lit("toInvalidate"))
          .when(col("storedGenStamp").isNull, lit("toAdd"))
          .when(col("storedGenStamp") < col("repGenStamp") ||
                (col("storedLength") =!= col("repLength") && col("storedLength") =!= -1L), lit("toAdd"))
          .otherwise(lit("ok")))
      .drop("freshestLength")
  }

  /** One micro-batch of the streamed N5 pipeline: a block report is
    * per-datanode and arrives whole, so the stored side is scoped to the
    * batch's reporting datanodes (each report reconciles exactly once
    * across batches) while the genstamp arbiter stays the global table (a
    * fresher replica may live on a node not reporting right now). The
    * caller must add the second pass — toRemove for datanodes absent from
    * the ENTIRE feed (FSNamesystem.java:2562-2594). */
  def reconcileReportBatch(block: DataFrame, batch: DataFrame): DataFrame = {
    // the batch's reporting datanodeIds push into the stored-side scan as
    // an IN predicate (Scale.keyPrune) — per trigger this reads only the
    // reporting nodes' replica rows, the per-datanode-cache access shape
    // of the reference (A/state/StateManager.java:774-785), instead of
    // semi-filtering the whole table after the scan
    val scoped = graft.core.Scale.keyPrune(block, "datanodeId", batch, "datanodeId")
    reconcileReports(scoped, batch, genStampArbiter = Some(block))
  }

  /** The second pass of the streamed N5 pipeline: stored replicas on
    * datanodes that never reported across the WHOLE feed are stale →
    * toRemove (FSNamesystem.java:2562-2594). `everReported` = the distinct
    * datanodeIds of the full feed. */
  def neverReportedRemovals(block: DataFrame, everReported: DataFrame): DataFrame =
    live(block)
      .join(broadcast(everReported.select(col("datanodeId")).distinct()),
        Seq("datanodeId"), "left_anti")
      .select(col("datanodeId"), lit("toRemove").as("action"))

  /** Report post-pass (processReport, FSNamesystem.java:2573-2620):
    * deleteInternal defers block cleanup to exactly this pass ("block
    * will be deleted for no file is found on next block report",
    * :1403). An action whose block belongs to NO live file refines to
    * the reference's outcome, discriminated by the action row's OWN
    * storedness: rows with a stored replica become toRemove
    * (removeStoredBlock drops the row and the replica), reported-only
    * rows become toInvalidate (addStoredBlock resolves no file and
    * rejects, invalidating the replica — a reported-only replica of a
    * block stored elsewhere has no row to remove). Actions over live
    * files pass through unchanged. */
  def refineOrphanActions(actions: DataFrame, block: DataFrame,
                          file: DataFrame): DataFrame = {
    val owner = live(block)
      .select(col("id").as("__bid"), col("fileId").as("__fileId")).distinct()
    val liveFiles = live(file).select(col("id").as("__fid"))
    actions
      .join(owner, col("blockId") === col("__bid"), "left")
      .join(liveFiles, col("__fileId") === col("__fid"), "left")
      .withColumn("action",
        when(col("__fid").isNotNull, col("action"))
          .when(col("storedGenStamp").isNotNull, lit("toRemove"))
          .otherwise(lit("toInvalidate")))
      .drop("__bid", "__fileId", "__fid")
  }

  // ---- N6: under-replication priorities + top-k (UnderReplicatedBlocks.java) -

  /** Priority per under-replicated block (UnderReplicatedBlocks.java:70-90):
    * 0 = last replica (or decommissioned-only), 1 = < 1/3 of expected,
    * 2 = rest; then the budgeted pick round-robins the budget across the
    * levels so a flood of priority-0 blocks can never starve levels 1-2
    * of replication work. The reference gets this fairness from a
    * persistent replIndex cursor that resumes and wraps across monitor
    * ticks (chooseUnderReplicatedBlocks, FSNamesystem.java:2043-2098);
    * a stateless declarative tick achieves the same no-starvation
    * property with a per-level budget split instead ([[roundRobinTakes]]
    * — and within a single tick it is strictly fairer: the reference can
    * spend a whole tick inside a large P0 backlog before the cursor
    * reaches P1). The per-level take thresholds come first — computed
    * driver-side from the 3 level counts (each capped at k, which
    * provably preserves the allocation) — then each level's pick is its
    * first takes(l) blocks in blockId order, a per-level
    * TakeOrderedAndProject (no global sort, no wide window at 100 TB
    * where the under-replicated set can be table-sized). */
  def underReplicated(block: DataFrame, file: DataFrame, datanode: DataFrame,
                      nowMs: Long, k: Int): DataFrame = {
    // ONE distributed action: the pruned union's rows (≤ 3k) come to the
    // driver, where the budget split and the final slice are in-memory —
    // level demand capped at k preserves the allocation exactly, since
    // no level can ever take more than the whole budget. The result is
    // the tick's work list, ≤ k rows by contract (budget = liveNodes ×
    // workMultiplier), returned as a driver-local frame: no persisted
    // storage outlives the call and downstream actions are free.
    val pruned = underReplicatedPruned(block, file, datanode, nowMs, k)
    val byLevel = pruned.collect().groupBy(_.getAs[Int]("priority"))
    val takes = roundRobinTakes(k,
      Array(0, 1, 2).map(l => byLevel.getOrElse(l, Array.empty).length))
    val picked = (0 to 2).flatMap(l =>
      byLevel.getOrElse(l, Array.empty)
        .sortBy(_.getAs[Long]("blockId")).take(takes(l)))
    block.sparkSession.createDataFrame(
      java.util.Arrays.asList(picked: _*), pruned.schema)
  }

  /** The distributed part of N6, LAZY for plan inspection: the union of
    * the three per-level top-k prunes (each a TakeOrderedAndProject — no
    * global sort, no wide window at 100 TB where the scored set can be
    * table-sized). The three branches share the scored subtree verbatim,
    * so its shuffle runs once via ReuseExchange inside the single plan —
    * ScaleSpec pins that reuse, since losing it would silently triple
    * the replica aggregation per monitor tick. */
  private[graft] def underReplicatedPruned(block: DataFrame, file: DataFrame,
                                           datanode: DataFrame, nowMs: Long,
                                           k: Int): DataFrame = {
    val liveNodeIds = StateManager.liveDatanodes(datanode, nowMs)
      .filter(col("adminState") === "NORMAL")
      .select(col("id").as("nodeId"))
    val liveReplicas = live(block)
      .join(liveNodeIds, col("datanodeId") === col("nodeId"), "left_semi")
      .groupBy(col("id").as("blockId"), col("fileId"))
      .agg(count(lit(1)).as("liveReplicaCount"))
    val expected = live(file).filter(col("length") =!= -1L)
      .select(col("id").as("fid"), col("replication").as("expectedReplication"))
    val scored = liveReplicas.join(expected, col("fileId") === col("fid")).drop("fid")
      .filter(col("liveReplicaCount") < col("expectedReplication"))
      .withColumn("priority",
        when(col("liveReplicaCount") <= 1, lit(0))
          .when(col("liveReplicaCount") * 3 < col("expectedReplication"), lit(1))
          .otherwise(lit(2)))
    (0 to 2).map(l =>
        scored.filter(col("priority") === l).orderBy(col("blockId")).limit(k))
      .reduce(_.unionByName(_))
  }

  /** chooseUnderReplicatedBlocks' budget split (FSNamesystem.java:2043-2098):
    * sweep the levels round-robin — each sweep offers every level
    * ceil(remaining/3), a level's unused quota spills to the next level,
    * and budget left after a sweep wraps into the next one — until the
    * budget or all demand is exhausted. Driver-side over 3 bounded counts. */
  private[graft] def roundRobinTakes(budget: Int, demand: Array[Int]): Array[Int] = {
    require(demand.length == 3, "three priority levels")
    val takes = Array(0, 0, 0)
    var r = math.min(budget, demand.map(_.toLong).sum.min(Int.MaxValue).toInt)
    var progressed = true
    while (r > 0 && progressed) {
      progressed = false
      val base = (r + 2) / 3
      var rem = r
      var spill = 0
      var l = 0
      while (l < 3) {
        val quota = math.min(base + spill, rem)
        val t = math.min(quota, demand(l) - takes(l))
        if (t > 0) { takes(l) += t; rem -= t; progressed = true }
        spill = quota - t
        l += 1
      }
      r = rem
    }
    takes
  }

  // ---- N8: excess replicas (processOverReplicatedBlock :2789-2890) -----

  /** Over-replicated blocks: rank replicas by the reference's RACK-AWARE
    * drop preference (chooseExcessReplicates, FSNamesystem.java:2813-2890):
    * pick least-free-space nodes from racks holding MORE than one replica
    * first — so an invalidation never removes a rack while alternatives
    * exist — and only then from single-replica racks. The reference walks
    * that choice sequentially (priSet/remains with demotion as racks
    * drain); the equivalent static ranking marks each rack's max-remaining
    * replica as its would-be survivor (the node the least-space-first
    * sequence never picks while the rack still holds another) and orders
    * drops by (non-survivor first, remaining asc, datanodeId). Emits the
    * replicas beyond the expected count as invalidation work, grouped per
    * datanode (recentInvalidateSets). The delNodeHint fast path is the
    * per-op incremental flow, not the batch sweep. */
  def excessReplicas(block: DataFrame, file: DataFrame, datanode: DataFrame): DataFrame = {
    val expected = live(file).filter(col("length") =!= -1L)
      .select(col("id").as("fid"), col("replication").as("expectedReplication"))
    val space = live(datanode)
      .select(col("id").as("nodeId"), col("remaining"), col("location"),
        col("adminState"))
    // asc_nulls_last: a replica whose datanode row is missing/tombstoned has
    // NULL remaining; rank it after known-space nodes (Spark default sorts
    // NULLS FIRST, the DuckDB oracle NULLS LAST — pin one order). A NULL
    // location is a singleton rack (nothing to co-protect).
    val wBlock = Window.partitionBy(col("id"))
    val wRack = Window.partitionBy(col("id"), col("__rack"))
    live(block)
      .join(expected, col("fileId") === col("fid")).drop("fid")
      .join(space, col("datanodeId") === col("nodeId"), "left").drop("nodeId")
      // processOverReplicatedBlock (FSNamesystem.java:2798-2808) drops
      // DECOMMISSION_INPROGRESS/DECOMMISSIONED holders from nonExcess
      // BEFORE chooseExcessReplicates: their replicas neither count toward
      // the excess total nor rank as drop candidates (they vanish on their
      // own when the node retires). A replica with no datanode row keeps
      // candidacy (adminState unknown ≠ decommissioning).
      .filter(col("adminState").isNull || col("adminState") === "NORMAL")
      .drop("adminState")
      .withColumn("__rack",
        coalesce(col("location"), concat(lit("?"), col("datanodeId").cast("string"))))
      .withColumn("__surv", row_number().over(
        wRack.orderBy(col("remaining").desc_nulls_first, col("datanodeId").desc)) === 1)
      .withColumn("__cnt", count(lit(1)).over(wBlock))
      .filter(col("__cnt") > col("expectedReplication"))
      .withColumn("dropRank", row_number().over(wBlock.orderBy(
        col("__surv").asc, col("remaining").asc_nulls_last, col("datanodeId").asc)))
      .filter(col("dropRank") <= col("__cnt") - col("expectedReplication"))
      .drop("__cnt", "__surv", "__rack", "location")
  }

  // ---- N11: fsck (NamenodeFsck.java:149-353, Result :556-640) ----------

  /** Live-node → dense INT rack-id dimension + the cluster rack count.
    * Rack STRINGS must not ride the per-block shuffle — 6M '/rackN'
    * payloads through the aggregation measured 2× the whole query — so
    * the block side joins the broadcast dimension for two ints. The rack
    * count comes back as a plan-time LITERAL (a 1-row crossJoin would sit
    * as a BroadcastNestedLoopJoin between the file⋈block join and the
    * per-file aggregation, breaking their codegen fusion). A null-location
    * node keeps a null rack: its replicas are live but span no rack. */
  private def nodeRackDim(datanode: DataFrame, nowMs: Long): (DataFrame, Long) = {
    val (nodes, clusterRacks) = StateManager.liveNodeRacks(datanode, nowMs)
    (nodes.select(col("id").as("__nid"), col("rack").as("__rid")), clusterRacks)
  }

  /** Per-block liveness/rack-spread/length off ONE block scan: live
    * replica count, min/max rack ordinal (the placement rule only asks
    * "≥ 2 racks?", so min/max replaces a countDistinct that would force
    * the expand plan), and max stored length. Length is max-stored, not
    * the BlockEntry argmax: it is only reported for MISSING blocks,
    * whose rows are all dead replicas — no live primary exists to rank
    * by (genStamp, version), and max is the conservative lost-bytes
    * bound (an argmax struct here measured ~2/3 of the whole query).
    *
    * Deliberately NOT pre-partitioned by fileId: a repartition(fileId)
    * here would let one hash exchange serve both the (id, fileId)
    * aggregation and the downstream fileId join (one block-dimension
    * shuffle instead of two — and it did measure faster standalone,
    * 1.22 s vs 1.43 s min at sf0.1), but a user-specified repartition
    * pins the exchange against AQE's runtime re-planning and the full-
    * bench A/B read 5.0-6.1 s vs 1.3-2.0 s for this plan in a warm
    * session — the two-exchange plan AQE manages beats the one-exchange
    * plan it can't touch (round-12 measurement). */
  private def fsckPerBlock(block: DataFrame, dim: DataFrame): DataFrame =
    live(block)
      .join(broadcast(dim), col("datanodeId") === col("__nid"), "left")
      .groupBy(col("id").as("blockId"), col("fileId").as("__bfid"))
      .agg(count(col("__nid")).as("__live"),
        min(col("__rid")).as("__rkMin"),
        max(col("__rid")).as("__rkMax"),
        max(greatest(col("length"), lit(0L))).as("__blockLen"))

  /** Whole-namespace health report — the full Result field set
    * (NamenodeFsck.Result :556-640) as ONE row. Faithful to the default
    * walk: OPEN files are skipped before any check (:227-233) and
    * surface only as the totalOpenFiles/Blocks/Size triple (Result
    * prints them apart from the validated totals, :605-621); dirs count
    * every live directory the walk visits, root included (:199). Per
    * CLOSED-file block, against the live-datanode set: missing (no live
    * holder, :305-312, with its bytes → missingSize), under/over vs the
    * file's target (:264-283), minimally-replicated (≥ minReplication,
    * :269-270), mis-replicated (the min(2, repl, clusterRacks) placement
    * rule, :285-299). corruptFiles counts files with ≥1 missing block
    * (:327-331); avgReplication is getReplicationFactor :598-602 (0.0
    * on an empty namespace). totalSize sums the files' namespace
    * lengths (file.getLen, :234), not block bytes. */
  def fsck(file: DataFrame, block: DataFrame, datanode: DataFrame, nowMs: Long,
           minReplication: Int = 1): DataFrame = {
    val files = live(file)
    val (dim, clusterRacks) = nodeRackDim(datanode, nowMs)
    val perBlock = fsckPerBlock(block, dim)
    // ONE scan of the file table: rows are status-tagged and every
    // Result field routes off the status in the final aggregation.
    // Separate dir/open/openBlocks branches would re-derive the file and
    // block tables once per branch — the derived tables are views, so an
    // extra scan is an extra full derivation, not a cheap re-read.
    val fAll = files.withColumn("__status",
        when(col("length") === -1L, "dir")
          .when(col("leaseHolder").isNotNull, "open")
          .otherwise("closed"))
      .select(col("id").as("__fid"), col("replication"),
        col("length").as("__flen"), col("__status"))
    val hasB = col("blockId").isNotNull
    val isClosed = col("__status") === "closed"
    // numRacks < min(2, repl, clusterRacks) given clusterRacks > 1 ⟺
    //   repl ≥ 2: block spans ≤ 1 rack (min/max equal or both null)
    //   repl = 1: no live replica on a rack (numRacks = 0; a live
    //             replica on a null-location node spans no rack)
    //   repl ≤ 0: never (minRacks = 0)
    val spans1 = col("__rkMin").isNull || col("__rkMin") === col("__rkMax")
    // shuffle_hash, not sort-merge: both sides partition on the file id
    // (no broadcast — perBlock is block-dimension-sized and would OOM a
    // 100 TB driver; the old plan only broadcast it through a local-mode
    // size underestimate), and hashing skips SMJ's two sorts
    val perFile = fAll
      .join(perBlock.hint("shuffle_hash"), col("__fid") === col("__bfid"), "left")
      .withColumn("__missing",
        when(isClosed && hasB && col("__live") === 0, 1L).otherwise(0L))
      .withColumn("__missSize", when(isClosed && hasB && col("__live") === 0,
        col("__blockLen")).otherwise(0L))
      .withColumn("__under", when(isClosed && col("__live") > 0 &&
        col("__live") < col("replication"), 1L).otherwise(0L))
      .withColumn("__over",
        when(isClosed && col("__live") > col("replication"), 1L).otherwise(0L))
      .withColumn("__minR",
        when(isClosed && col("__live") >= minReplication, 1L).otherwise(0L))
      .withColumn("__misR", when(isClosed && lit(clusterRacks) > 1 && hasB &&
        ((col("replication") >= 2 && spans1) ||
         (col("replication") === 1 && col("__rkMin").isNull)), 1L).otherwise(0L))
      .groupBy(col("__fid"), col("__flen"), col("__status"))
      .agg(count(col("blockId")).as("__nb"),
        sum(col("__missing")).as("__miss"), sum(col("__missSize")).as("__msz"),
        sum(col("__under")).as("__und"), sum(col("__over")).as("__ovr"),
        sum(col("__minR")).as("__min"), sum(col("__misR")).as("__mis"),
        sum(when(isClosed, coalesce(col("__live"), lit(0L))).otherwise(0L))
          .as("__reps"))
    val closedRow = col("__status") === "closed"
    perFile.agg(
      count(when(closedRow, 1)).as("totalFiles"),
      count(when(col("__status") === "dir", 1)).as("totalDirs"),
      coalesce(sum(when(closedRow, col("__nb"))), lit(0L)).as("totalBlocks"),
      coalesce(sum(when(closedRow, col("__flen"))), lit(0L)).as("totalSize"),
      sum(col("__und")).as("underReplicatedBlocks"),
      sum(col("__ovr")).as("overReplicatedBlocks"),
      sum(col("__min")).as("minReplicatedBlocks"),
      sum(col("__mis")).as("misReplicatedBlocks"),
      sum(col("__miss")).as("missingBlocks"),
      sum(col("__msz")).as("missingSize"),
      count(when(closedRow && col("__miss") > 0, 1)).as("corruptFiles"),
      when(coalesce(sum(when(closedRow, col("__nb"))), lit(0L)) === 0, lit(0.0))
        .otherwise(sum(col("__reps")).cast("double") /
          sum(when(closedRow, col("__nb"))))
        .as("avgReplication"),
      count(when(col("__status") === "open", 1)).as("totalOpenFiles"),
      coalesce(sum(when(col("__status") === "open", col("__nb"))), lit(0L))
        .as("totalOpenFilesBlocks"),
      coalesce(sum(when(col("__status") === "open", col("__flen"))), lit(0L))
        .as("totalOpenFilesSize"))
      .select(col("totalFiles"), col("totalDirs"), col("totalBlocks"),
        col("totalSize"), col("underReplicatedBlocks"),
        col("overReplicatedBlocks"), col("minReplicatedBlocks"),
        col("misReplicatedBlocks"), col("missingBlocks"), col("missingSize"),
        col("corruptFiles"), col("avgReplication"), col("totalOpenFiles"),
        col("totalOpenFilesBlocks"), col("totalOpenFilesSize"))
  }

  /** N11 per-file findings (NamenodeFsck.check :193-353): one row per
    * CLOSED file with at least one finding — default fsck skips open
    * files before any check (:227-233), so leaseHolder-bearing files
    * never appear. Per block of the file, counted against the
    * live-datanode set:
    *  - MISSING: no holder is live (:305-312; locs.length == 0);
    *  - under-replicated: 0 < live < target (:272-283);
    *  - over-replicated: live > target (:264-267);
    *  - mis-replicated: live replicas span fewer than
    *    min(2, replication, clusterRacks) racks while the cluster has
    *    more than one rack (:285-299,
    *    ReplicationTargetChooser.verifyBlockPlacement :431-461 — a
    *    missing block counts here too, its rack set is empty).
    * A file with a missing block is corrupt (:327-331). A missing
    * block's reported size is its max stored replica length — all its
    * rows are dead replicas, so no live primary exists for the
    * BlockEntry argmax to rank, and max is the conservative lost-bytes
    * bound (fsckMove's chain lengths, which do have live primaries,
    * keep the argmax convention).
    *
    * `showOpenFiles` is the -openforwrite flag (:118-126): open files
    * skip the early return, get the same checks, and carry
    * openForWrite = true (:237-239 prints the OPENFORWRITE marker). */
  def fsckFiles(file: DataFrame, block: DataFrame, datanode: DataFrame,
                nowMs: Long, showOpenFiles: Boolean = false): DataFrame = {
    val (dim, clusterRacks) = nodeRackDim(datanode, nowMs)
    val perBlock = fsckPerBlock(block, dim)
      .withColumnRenamed("__live", "__liveReplicas")
    val files = live(file)
      .filter(col("length") =!= -1L &&
        (lit(showOpenFiles) || col("leaseHolder").isNull))
      .select(col("id").as("fileId"), col("replication"),
        col("length").as("fileSize"),
        col("leaseHolder").isNotNull.as("openForWrite"))
    val spans1 = col("__rkMin").isNull || col("__rkMin") === col("__rkMax")
    val perFile = files
      .join(perBlock, col("fileId") === col("__bfid"))
      .withColumn("__missing", (col("__liveReplicas") === 0).cast("int"))
      .withColumn("__under", (col("__liveReplicas") > 0 &&
        col("__liveReplicas") < col("replication")).cast("int"))
      .withColumn("__over", (col("__liveReplicas") > col("replication")).cast("int"))
      .withColumn("__misrep", (lit(clusterRacks) > 1 &&
        ((col("replication") >= 2 && spans1) ||
         (col("replication") === 1 && col("__rkMin").isNull))).cast("int"))
      .groupBy(col("fileId"), col("replication"), col("fileSize"),
        col("openForWrite"))
      .agg(count(col("blockId")).as("nBlocks"),
        sum(col("__missing")).cast("long").as("missingBlocks"),
        sum(when(col("__missing") === 1, col("__blockLen"))
          .otherwise(0L)).as("missingSize"),
        sum(col("__under")).cast("long").as("underBlocks"),
        sum(col("__over")).cast("long").as("overBlocks"),
        sum(col("__misrep")).cast("long").as("misReplicatedBlocks"))
      .filter(col("missingBlocks") > 0 || col("underBlocks") > 0 ||
        col("overBlocks") > 0 || col("misReplicatedBlocks") > 0)
    val paths = StateManager.materializePaths(file)
      .select(col("id").as("__pid"), col("path"))
    perFile.join(paths, col("fileId") === col("__pid"))
      .select(col("path"), col("fileId"), col("replication"), col("fileSize"),
        col("nBlocks"), col("missingBlocks"), col("missingSize"),
        col("underBlocks"), col("overBlocks"), col("misReplicatedBlocks"),
        col("openForWrite"))
  }

  /** Normalize a user path scope: strip ALL trailing slashes (stored
    * paths carry none — "/n_7//" must scope like "/n_7", never silently
    * match nothing), keeping "/" for the root. */
  private def normScope(p: String): String = {
    val t = p.replaceAll("/+$", "")
    if (t.isEmpty) "/" else t
  }

  private def scopeFilter(pathCol: org.apache.spark.sql.Column,
                          prefix: String): org.apache.spark.sql.Column =
    if (prefix == "/") lit(true)
    else pathCol === prefix || pathCol.startsWith(prefix + "/")

  /** N11 `-blocks/-locations/-racks` detail (NamenodeFsck.java:99-103
    * option flags; per-block report loop :254-312): one row per block of
    * every checked (closed, live) file whose path starts with
    * `pathPrefix` — fsck is path-scoped in the reference, and the prefix
    * is also the 100 TB valve: the block detail is subtree-sized, not
    * namespace-sized, with blocks pruned to the subtree (left-semi)
    * BEFORE any aggregation. Per block: live replica count, stored
    * length, the missing/under/over/mis-replication classification
    * against the file's target (the same ladder fsck/fsckFiles use),
    * and the -locations/-racks surfaces — live holders in datanodeId
    * order with their rack strings, comma-joined (the reference prints
    * locations only for known datanodes: dead holders never appear). */
  def fsckBlocks(file: DataFrame, block: DataFrame, datanode: DataFrame,
                 nowMs: Long, pathPrefix: String = "/"): DataFrame = {
    val (nodes, clusterRacks) = StateManager.liveNodeRacks(datanode, nowMs)
    val liveN = nodes.select(col("id").as("__nid"), col("location").as("__rack"))
    val paths = StateManager.materializePaths(file)
      .select(col("id").as("__pid"), col("path"))
    val prefix = normScope(pathPrefix)
    val prefixOk = scopeFilter(col("path"), prefix)
    val files0 = live(file)
      .filter(col("length") =!= -1L && col("leaseHolder").isNull)
      .join(paths, col("id") === col("__pid"))
      .filter(prefixOk)
      .select(col("id").as("__fid"), col("replication"), col("path"))
    // a scoped prefix makes the file side subtree-sized — pin it (it
    // feeds the keyPrune key collect and the final join; re-deriving
    // would re-walk materializePaths twice), push its fileIds into the
    // block scan as an IN predicate (Scale.keyPrune — row-group/bucket
    // pruning; the semi-join it replaced filtered AFTER streaming the
    // whole block table), and broadcast it into the final join only:
    // keyPrune projects its keys, and a hint under a projection reaches
    // no join. The whole-namespace scope ("/") keeps the semi + shuffled
    // join, where neither a key list nor a broadcast could be assumed
    // to fit
    val files = if (prefix == "/") files0 else files0.localCheckpoint()
    val blocksScoped =
      if (prefix == "/")
        live(block).join(files.select(col("__fid")),
          col("fileId") === col("__fid"), "left_semi")
      else graft.core.Scale.keyPrune(live(block), "fileId", files, "__fid")
    val perBlock = blocksScoped
      .join(broadcast(liveN), col("datanodeId") === col("__nid"), "left")
      .groupBy(col("id").as("blockId"), col("fileId"), col("fileIndex"))
      .agg(count(col("__nid")).as("liveReplicas"),
        max(greatest(col("length"), lit(0L))).as("blockLen"),
        array_sort(collect_list(when(col("__nid").isNotNull,
          struct(col("datanodeId"), col("__rack"))))).as("__locs"))
      .withColumn("numRacks", size(array_distinct(filter(
        transform(col("__locs"), x => x.getField("__rack")), _.isNotNull))))
    perBlock.join(if (prefix == "/") files else broadcast(files),
        col("fileId") === col("__fid"))
      .select(col("path"), col("fileId"), col("blockId"), col("fileIndex"),
        col("blockLen"), col("liveReplicas"),
        col("replication").cast("long").as("expectedReplication"),
        (col("liveReplicas") === 0).as("missing"),
        (col("liveReplicas") > 0 &&
          col("liveReplicas") < col("replication")).as("underReplicated"),
        (col("liveReplicas") > col("replication")).as("overReplicated"),
        (lit(clusterRacks) > 1L && col("numRacks").cast("long") <
          least(lit(2L), col("replication").cast("long"), lit(clusterRacks)))
          .as("misReplicated"),
        array_join(transform(col("__locs"),
          x => x.getField("datanodeId").cast("string")), ",").as("locations"),
        array_join(transform(col("__locs"), x => x.getField("__rack")), ",")
          .as("racks"))
  }

  /** N11 `-move`: the lost+found write-set (NamenodeFsck.lostFoundMove
    * :355-420). Per corrupt CLOSED file under `pathPrefix` (missing > 0;
    * an open file is never checked, so the reference's !isOpen gate
    * :340-345 is already satisfied):
    *  - `insert` rows creating `/lost+found<fullPath>` as a DIRECTORY
    *    chain (mkdirs(target) :371 — the file's own name becomes a dir)
    *    and the chain files under it: each maximal run of blocks
    *    (fileIndex order) that still have a live replica becomes one file
    *    named by its 0-based run ordinal (:377-397 — a replica-less block
    *    closes the current chain and is skipped), length = Σ
    *    BlockEntry-primary lengths of the run. Dirs and chain files take
    *    their ids from one ranking (Mutations.mirrorChains), so chain "10"
    *    ranks before chain "2" — ids only need determinism;
    *  - `tombstone` rows for the original file row and every live block
    *    row (dfs.delete(fullName, true) :412);
    *  - `touch` rows: the old parent dir and pre-existing dirs reused as
    *    insert parents (the mkdirs/delete mtime convention);
    *  - `reject` when the mirror chain is blocked by an existing FILE
    *    row ("lost+found path blocked by a file" — mkdirs would fail
    *    :372-374).
    * The corrupt set is collected once, up to Mutations.MirrorSourceCap
    * files; a larger one is refused — narrow it with `pathPrefix`. */
  def fsckMove(file: DataFrame, block: DataFrame, datanode: DataFrame,
               nowMs: Long, idBase: Long, pathPrefix: String = "/"): DataFrame = {
    val sp = file.sparkSession
    // the corrupt files in scope, with the rows -move tombstones: the
    // reference's fsck walks only the requested subtree, so a scoped
    // -move must never rescue (write!) outside it
    val corrupt = Mutations.collectSources(fsckFiles(file, block, datanode, nowMs)
        .filter(col("missingBlocks") > 0 &&
          scopeFilter(col("path"), normScope(pathPrefix)))
        .join(live(file), col("fileId") === col("id"))
        .select(col("fileId"), col("path"), col("parentId"), col("name"),
          col("length"), col("version")),
      "narrow fsck -move with a pathPrefix")
    val mirrorOf = corrupt.map(r => r.getLong(0) -> ("/lost+found" + r.getString(1))).toMap
    def idFrame(ids: Seq[Long]): DataFrame = StateManager.localRelation(sp,
      ids.map(Row(_)).toArray, StructType.fromDDL("__cfid BIGINT"))
    // chain files: per corrupt file, maximal runs of blocks with a live replica
    val liveNIds = StateManager.liveDatanodes(datanode, nowMs)
      .select(col("id").as("__nid"))
    val ordB = struct(col("generationStamp"), col("version"))
    val w = Window.partitionBy(col("fileId"))
      .orderBy(col("fileIndex"), col("blockId"))
    val leaves = graft.core.Scale.keyPrune(live(block), "fileId",
        idFrame(mirrorOf.keys.toSeq), "__cfid")
      .join(liveNIds, col("datanodeId") === col("__nid"), "left")
      .groupBy(col("fileId"), col("id").as("blockId"))
      .agg(max(col("fileIndex")).as("fileIndex"),
        count(col("__nid")).as("__live"),
        max_by(col("length"), ordB).as("__blen"))
      .withColumn("__has", col("__live") > 0)
      .withColumn("__start",
        when(col("__has") && !coalesce(lag(col("__has"), 1).over(w),
          lit(false)), 1L).otherwise(0L))
      .withColumn("__chain", sum(col("__start")).over(w) - 1L)
      .filter(col("__has"))
      .groupBy(col("fileId"), col("__chain"))
      .agg(sum(greatest(col("__blen"), lit(0L))).as("__clen"))
      .collect().toSeq
      .map(r => (r.getLong(0), mirrorOf(r.getLong(0)) + "/" + r.getLong(1), r.getLong(2)))
    val mc = Mutations.mirrorChains(file,
      Mutations.dirPaths(file, StateManager.DirMapCap), mirrorOf.toSeq, leaves, idBase)
    val ok = corrupt.toSeq.filterNot(r => mc.blocked(r.getLong(0)))
    // inserts, file tombstones and rejects are driver rows
    val driverRows = mc.created.map(c => Row("insert", "file", c.id, null,
        c.parentId, c.name, c.length, nowMs, c.id, null)) ++
      ok.map(r => Row("tombstone", "file", r.getLong(0), null, r.getLong(2),
        r.getString(3), r.getLong(4), null, -r.getLong(5), null)) ++
      mc.blocked.toSeq.map(id => Row("reject", "file", id, null, null, null,
        null, null, null, "lost+found path blocked by a file"))
    val blockTombs = graft.core.Scale.keyPrune(live(block), "fileId",
        idFrame(ok.map(_.getLong(0))), "__cfid")
      .select(lit("tombstone").as("writeOp"), lit("block").as("tbl"),
        col("id"), col("datanodeId"),
        lit(null).cast("long").as("parentId"),
        lit(null).cast("string").as("name"),
        col("length"), lit(null).cast("long").as("mtime"),
        (-col("version")).as("version"), lit(null).cast("string").as("reject"))
    // touch: old parents of moved-away files + pre-existing dirs reused
    // as insert parents (the mkdirs/delete mtime convention)
    val touchRows = live(file)
      .join(broadcast(idFrame((ok.map(_.getLong(2)) ++ mc.reused).distinct)),
        col("id") === col("__cfid"))
      .select(lit("touch").as("writeOp"), lit("file").as("tbl"),
        col("id"), lit(null).cast("long").as("datanodeId"),
        col("parentId"), col("name"), col("length"), lit(nowMs).as("mtime"),
        col("version"), lit(null).cast("string").as("reject"))
    StateManager.localRelation(sp, driverRows.toArray, StructType.fromDDL(
        "writeOp STRING, tbl STRING, id BIGINT, datanodeId BIGINT, parentId BIGINT, " +
          "name STRING, length BIGINT, mtime BIGINT, version BIGINT, reject STRING"))
      .unionByName(blockTombs).unionByName(touchRows)
  }

  /** N11 `-delete` (FIXING_DELETE :346-349 — namenode.delete(path, true)
    * per corrupt closed file): tombstone the file row and every live
    * block row, touch the parent dir. Same write-set schema as
    * fsckMove minus the lost+found machinery. */
  def fsckDelete(file: DataFrame, block: DataFrame, datanode: DataFrame,
                 nowMs: Long, pathPrefix: String = "/"): DataFrame = {
    val corrupt = fsckFiles(file, block, datanode, nowMs)
      .filter(col("missingBlocks") > 0 &&
        scopeFilter(col("path"), normScope(pathPrefix)))
      .select(col("fileId").as("__cfid")).localCheckpoint()
    val f = live(file).select(col("id").as("__lid"),
      col("parentId").as("__lpar"), col("name").as("__lname"),
      col("length").as("__llen"), col("version").as("__lver"))
    val fileTombs = corrupt.join(f, col("__cfid") === col("__lid"))
      .select(lit("tombstone").as("writeOp"), lit("file").as("tbl"),
        col("__cfid").as("id"), lit(null).cast("long").as("datanodeId"),
        col("__lpar").as("parentId"), col("__lname").as("name"),
        col("__llen").as("length"), lit(null).cast("long").as("mtime"),
        (-col("__lver")).as("version"))
    val blockTombs = graft.core.Scale.keyPrune(live(block), "fileId", corrupt, "__cfid")
      .select(lit("tombstone").as("writeOp"), lit("block").as("tbl"),
        col("id"), col("datanodeId"),
        lit(null).cast("long").as("parentId"),
        lit(null).cast("string").as("name"),
        col("length"), lit(null).cast("long").as("mtime"),
        (-col("version")).as("version"))
    val touchRows = corrupt.join(f, col("__cfid") === col("__lid"))
      .select(col("__lpar").as("__tid")).distinct()
      .join(f, col("__tid") === col("__lid"))
      .select(lit("touch").as("writeOp"), lit("file").as("tbl"),
        col("__lid").as("id"), lit(null).cast("long").as("datanodeId"),
        col("__lpar").as("parentId"), col("__lname").as("name"),
        col("__llen").as("length"), lit(nowMs).as("mtime"),
        col("__lver").as("version"))
    fileTombs.unionByName(blockTombs).unionByName(touchRows)
  }

  /** getStats' block counters (FSNamesystem.java:3040-3042 — the
    * dfsadmin -report header next to S13's capacity aggregates):
    * under-replicated = live closed files' blocks with 0 < live <
    * expected on live NORMAL nodes (the N6 scored set minus the
    * replica-less ones), missing = such blocks with NO live replica at
    * all (getMissingBlocksCount; fsck's rule), corrupt = blocks carrying
    * ≥ 1 standing corrupt mark (corruptReplicaBlocksCount over the
    * [[Replication.corruptMarks]] table). ONE scan of the pruned block
    * table plus the corrupt-set-sized marks aggregate; the two 1-row
    * frames cross-join — constant-bounded. */
  def blockStats(block: DataFrame, file: DataFrame, datanode: DataFrame,
                 corruptMarks: DataFrame, nowMs: Long): DataFrame = {
    val liveNodeIds = StateManager.liveDatanodes(datanode, nowMs)
      .filter(col("adminState") === "NORMAL")
      .select(col("id").as("nodeId"))
    val fdim = live(file)
      .filter(col("length") =!= -1L && col("leaseHolder").isNull)
      .select(col("id").as("fid"), col("replication"))
    val perBlock = live(block)
      .join(liveNodeIds, col("datanodeId") === col("nodeId"), "left")
      .groupBy(col("id").as("blockId"), col("fileId"))
      .agg(count(col("nodeId")).as("__live"))
      .join(fdim, col("fileId") === col("fid"))
    val counts = perBlock.agg(
      count(when(col("__live") > 0 && col("__live") < col("replication"), 1))
        .as("underReplicatedBlocks"),
      count(when(col("__live") === 0, 1)).as("missingBlocks"))
    val corrupt = corruptMarks.agg(
      count_distinct(col("blockId")).as("corruptReplicaBlocks"))
    counts.crossJoin(corrupt)
      .select(col("underReplicatedBlocks"), col("corruptReplicaBlocks"),
        col("missingBlocks"))
  }

  // ---- N14: safe-mode threshold (SafeModeInfo :3531-3700) --------------

  /** Fraction of blocks that reached minimal replication vs total. */
  def safeModeRatio(block: DataFrame, minReplication: Int): DataFrame = {
    val perBlock = live(block).groupBy(col("id"))
      .agg(count(lit(1)).as("replicas"))
    perBlock.agg(
      count(lit(1)).as("totalBlocks"),
      count(when(col("replicas") >= minReplication, 1)).as("safeBlocks"))
  }

  /** dfsadmin -safemode get: the ratio against the reference's
    * TRUNCATED threshold — blockThreshold = (int)(total × pct), in safe
    * mode while safe < threshold (SafeModeInfo.needEnter) — so an empty
    * namespace (threshold 0) is OUT of safe mode, and 99 safe of 100 at
    * pct .999 (threshold 99) is too. */
  def safeModeStatus(block: DataFrame, minReplication: Int,
                     thresholdPct: Double): DataFrame =
    safeModeRatio(block, minReplication)
      .select(col("totalBlocks"), col("safeBlocks"),
        (col("safeBlocks").cast("double") /
          greatest(col("totalBlocks"), lit(1L))).as("ratio"),
        lit(thresholdPct).as("threshold"),
        (col("safeBlocks") <
          floor(col("totalBlocks") * lit(thresholdPct)).cast("long"))
          .as("inSafeMode"))

  // ---- N15: du / count / ContentSummary (ContentSummary.java:27-110) ---

  /** Subtree aggregation {length, fileCount, dirCount, spaceConsumed,
    * quota, spaceQuota} per requested root. Single-pass for ALL roots at
    * once: the frontier carries a rootId label down the tree, so N roots
    * cost the same joins as one — the shape that survives a 1000-root du
    * over a 100 TB namespace.
    *
    * Quota semantics (ContentSummary.java:31-66, INode.java:194-216):
    * spaceConsumed = Σ file length × replication over the subtree
    * (INodeFile.diskspaceConsumed — the ADFS file table maintains length
    * as the total block length, so the INode-side last-block round-up
    * collapses into it); quota/spaceQuota come from per-dir quota rows
    * (`quotas`: dirId, nsQuota, dsQuota) keyed by the ROOT dir, −1 = not
    * set (INode.getNsQuota/getDsQuota default). */
  def contentSummary(file: DataFrame, rootIds: Seq[Long], maxDepth: Int = 16,
                     dirBroadcastLimit: Long = StateManager.DirMapCap,
                     quotas: Option[DataFrame] = None): DataFrame = {
    // (rootId, id, length, replication) rows → one summary row per root
    val summary = (rows: DataFrame) => attachQuotas(summarize(rows), quotas)
    // minimal namespace frames (id,parentId,length) are a valid input:
    // spaceConsumed degrades to length×1, matching a replication-1 tree
    val fLive = live(file)
    val fAll =
      if (fLive.columns.contains("replication")) fLive
      else fLive.withColumn("replication", lit(1L))
    graft.state.StateManager
      .collectDirChildren(fAll, dirBroadcastLimit, needNames = false) match {
      case Some(children) =>
        // driver-side: the (dirId → rootId) membership of every requested
        // subtree (a dir under two requested roots contributes to both,
        // matching the loop); one broadcast join then attributes every
        // row to its root(s) via its parent dir. Seeds are deduped and
        // restricted to LIVE roots — the loop starts from live rows only,
        // so a tombstoned root must yield no output here either.
        val seeds = rootIds.distinct
        val liveSeeds = fAll.filter(col("id").isin(seeds: _*))
          .select(col("id")).collect().map(_.getLong(0)).toSet
        // the membership product is per-root and unbounded by the
        // adjacency cap (nested roots multiply it) — bail to the iterative
        // route INSIDE the BFS, before the next level is accumulated, so a
        // near-limit tree with many roots can never OOM the driver first;
        // the running total is Long (an Int count could wrap past 2^31)
        val cap = math.min(math.max(dirBroadcastLimit, 0L), (Int.MaxValue - 2).toLong)
        val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var total = 0L
        var over = false
        val seedIt = seeds.filter(liveSeeds).iterator
        while (seedIt.hasNext && !over) {
          val r = seedIt.next()
          acc += ((r, r)); total += 1
          var frontier = Seq(r)
          var lvl = 0
          // dirs to depth maxDepth-1 below the root: the child join adds
          // one level, matching the loop's depth bound
          while (frontier.nonEmpty && lvl < maxDepth - 1 && !over) {
            frontier = frontier.flatMap(p =>
              children.getOrElse(p, Nil).map(_._1).filter(_ != p))
            total += frontier.length
            if (total > cap) over = true
            else acc ++= frontier.map(d => (d, r))
            lvl += 1
          }
        }
        if (over) return contentSummaryIterative(fAll, rootIds, maxDepth, summary)
        val pairs = acc.toSeq
        val spark = file.sparkSession
        import spark.implicits._
        val dirRoot = pairs.toDF("__did", "rootId")
        val inSubtrees = fAll
          .join(broadcast(dirRoot), col("parentId") === col("__did"))
          .select(col("rootId"), col("id"), col("length"), col("replication"))
        val roots = fAll.filter(col("id").isin(seeds: _*))
          .select(col("id").as("rootId"), col("id"), col("length"), col("replication"))
        summary(roots.unionByName(inSubtrees))
      case None => contentSummaryIterative(fAll, rootIds, maxDepth, summary)
    }
  }

  private def summarize(out: DataFrame): DataFrame =
    out.groupBy(col("rootId")).agg(
      sum(when(col("length") =!= -1L, greatest(col("length"), lit(0L))).otherwise(0L)).as("length"),
      count(when(col("length") =!= -1L, 1)).as("fileCount"),
      count(when(col("length") === -1L, 1)).as("dirCount"),
      sum(when(col("length") =!= -1L,
        greatest(col("length"), lit(0L)) * col("replication")).otherwise(0L))
        .as("spaceConsumed"))

  /** quota/spaceQuota per root from the per-dir quota rows; −1 where no
    * quota row exists (getNsQuota/getDsQuota default, INode.java:209-215).
    * Quota rows are a dimension (one per quota'd dir) — broadcast. */
  private def attachQuotas(summary: DataFrame, quotas: Option[DataFrame]): DataFrame =
    quotas match {
      case Some(q) =>
        summary
          .join(broadcast(q.select(col("dirId").as("__qid"),
            col("nsQuota"), col("dsQuota"))), col("rootId") === col("__qid"), "left")
          .drop("__qid")
          .withColumn("quota", coalesce(col("nsQuota"), lit(-1L)))
          .withColumn("spaceQuota", coalesce(col("dsQuota"), lit(-1L)))
          .drop("nsQuota", "dsQuota")
      case None =>
        summary.withColumn("quota", lit(-1L)).withColumn("spaceQuota", lit(-1L))
    }

  private def contentSummaryIterative(fAll: DataFrame, rootIds: Seq[Long], maxDepth: Int,
                                      summary: DataFrame => DataFrame): DataFrame = {
    // every row of a walk carries the root it was reached from
    val walk = graft.state.StateManager.walkDown(
      fAll.select(col("id"), col("parentId"), col("length"), col("replication")),
      _.filter(col("id").isin(rootIds: _*)).withColumn("rootId", col("id")),
      carry = Seq("rootId"), step = identity, maxDepth, refuse = None)
    // the summary is tiny: materialize it, then free the subtree rows
    graft.core.Caching.materializeAndRelease(summary(walk), Seq(walk))
  }

  // ---- Decommission finish gate (isReplicationInProgress :3353-3398) ---

  /** Per-candidate decommissioningStatus counters — the finish gate of the
    * decommission lifecycle (isReplicationInProgress,
    * FSNamesystem.java:3353-3398): a node may retire only when NO block it
    * holds is under-replicated against the post-transition admin map.
    *
    * `effAdmin`: (id, effState) — the datanode admin states WITH the
    * batch's transitions already applied (a starting node's own replicas
    * must count as decommissioned, exactly as the reference flips the
    * descriptor before checkDecommissionStateInternal :3185-3190).
    * `candidates`: (nodeId) — the nodes to evaluate.
    *
    * Replica classification follows countNodes (:3290-3315): a replica
    * whose datanode row is missing is skipped (`node == null → continue`),
    * non-NORMAL holders count as decommissioned, the rest live (the
    * corrupt/excess maps are transient namenode memory, not table state —
    * under the table-state model they are empty, so those branches
    * classify live, the same collapse fsck uses). Blocks whose file is
    * deleted are skipped (`file == null` guard :3364-3366).
    *
    * Scale shape: replica counting is scoped to the blocks the candidates
    * actually hold (a left-semi prune) — a 10-node decommission on a
    * 100 TB namespace aggregates only those nodes' blocks, never the whole
    * block table; the admin map is a broadcast dimension. Output per
    * candidate: underReplicatedBlocks, decommissionOnlyReplicas,
    * underReplicatedInOpenFiles (decommissioningStatus.set :3395),
    * replicationDone. */
  def decommissionStatus(block: DataFrame, file: DataFrame,
                         effAdmin: DataFrame, candidates: DataFrame): DataFrame = {
    val b = live(block)
    val cand = candidates.select(col("nodeId")).distinct()
    val eff = effAdmin.select(col("id").as("__nid"), col("effState"))
    // blocks held by any candidate — the only blocks whose replica counts
    // the gate ever reads. Pinned via localCheckpoint (frees on GC, the
    // dupClusters convention): both consumers below would otherwise each
    // re-scan the block table for the same candidate-held subset.
    val heldReplicas = graft.core.Scale.keyPrune(b, "datanodeId", cand, "nodeId")
      .select(col("datanodeId").as("nodeId"), col("id"), col("fileId"))
      .localCheckpoint()
    val heldIds = heldReplicas.select(col("id")).distinct()
    val counts = b
      .join(heldIds.select(col("id").as("__hid")), col("id") === col("__hid"), "left_semi")
      .join(broadcast(eff), col("datanodeId") === col("__nid"))
      .groupBy(col("id").as("__bid"))
      .agg(count(when(col("effState") === "NORMAL", 1)).as("__live"),
           count(when(col("effState") =!= "NORMAL", 1)).as("__decom"))
    val fileDim = live(file).select(col("id").as("__fid"),
      col("replication").as("__expected"),
      col("leaseHolder").isNotNull.as("__open"))
    val held = heldReplicas
      .select(col("nodeId"), col("id").as("__hbid"), col("fileId"))
      .join(fileDim, col("fileId") === col("__fid"))
      .join(counts, col("__hbid") === col("__bid"))
      .withColumn("__under", col("__expected") > col("__live"))
    val perNode = held.groupBy(col("nodeId")).agg(
      count(when(col("__under"), 1)).as("underReplicatedBlocks"),
      count(when(col("__under") && col("__live") === 0L && col("__decom") > 0L, 1))
        .as("decommissionOnlyReplicas"),
      count(when(col("__under") && col("__open"), 1)).as("underReplicatedInOpenFiles"))
    // a candidate holding no blocks (of live files) finishes immediately
    cand.join(perNode.withColumnRenamed("nodeId", "__pn"),
        col("nodeId") === col("__pn"), "left").drop("__pn")
      .select(col("nodeId"),
        coalesce(col("underReplicatedBlocks"), lit(0L)).as("underReplicatedBlocks"),
        coalesce(col("decommissionOnlyReplicas"), lit(0L)).as("decommissionOnlyReplicas"),
        coalesce(col("underReplicatedInOpenFiles"), lit(0L)).as("underReplicatedInOpenFiles"))
      .withColumn("replicationDone", col("underReplicatedBlocks") === 0L)
  }

  // ---- getBlocks: the balancer's source-block fetch (:501-566) ---------

  /** getBlocks(datanode, size) (FSNamesystem.java:501-566) — the RPC the
    * Balancer calls to pick source blocks: starting from a cursor into
    * the node's block list, accumulate blocks until their total entry
    * length reaches `size`, wrapping around the list; a block contributes
    * (and counts) only if it has at least one valid location — a
    * non-under-construction replica on a node with a datanode row
    * (addBlock :548-566; the recentInvalidateSets exclusion is transient
    * namenode memory, empty under the table-state model — the countNodes
    * collapse). The reference seeds the cursor with r.nextInt; the
    * deterministic form takes it as `startIdx` per request, and blockId
    * order stands in for the stored list order.
    *
    * Batched: `requests` = (datanodeId, size, startIdx) — ALL balancer
    * sources answer in one pass, each node's scan a window over ITS
    * blocks only (partitionBy datanodeId; per-node block counts are the
    * bound, never the table). Output: (datanodeId, blockId,
    * generationStamp, blockLength, locations). */
  def getBlocks(block: DataFrame, datanode: DataFrame,
                requests: DataFrame): DataFrame = {
    val req = requests.select(col("datanodeId").as("__rn"), col("size"),
      col("startIdx")).distinct()
    val held = graft.core.Scale.keyPrune(live(block), "datanodeId", req, "__rn")
      .select(col("datanodeId").as("__hn"), col("id").as("blockId"))
      .distinct()
    // entry primary + valid locations for exactly the held blocks
    val dnDim = live(datanode).select(col("id").as("__dn"))
    val entries = live(block)
      .join(broadcast(held.select(col("blockId")).distinct()
          .withColumnRenamed("blockId", "__hb")),
        col("id") === col("__hb"), "left_semi")
      .join(broadcast(dnDim), col("datanodeId") === col("__dn"), "left")
      .groupBy(col("id").as("__bid"))
      .agg(max(col("generationStamp")).as("generationStamp"),
        max_by(col("length"), struct(col("generationStamp"), col("version")))
          .as("blockLength"),
        array_sort(collect_list(when(col("__dn").isNotNull &&
          col("length") =!= -1L, col("datanodeId")))).as("__locs"))
    // windows partition by the FULL request key: the balancer's real
    // pattern is repeated getBlocks calls per source node, and two
    // requests for one node must each get their own cursor scan — a
    // node-only partition would mix their row numbers and budgets
    val wNode = Window.partitionBy(col("__hn"), col("size"), col("startIdx"))
    val ordered = held
      .join(entries, col("blockId") === col("__bid")).drop("__bid")
      .join(broadcast(req), col("__hn") === col("__rn")).drop("__rn")
      .withColumn("__n", count(lit(1)).over(wNode))
      .withColumn("__idx", row_number().over(wNode.orderBy(col("blockId"))) - 1)
      .withColumn("__rot", pmod(col("__idx") - col("startIdx"), col("__n")))
      .withColumn("__ok", size(col("__locs")) > 0)
    ordered
      .withColumn("__before", coalesce(
        sum(when(col("__ok"), greatest(col("blockLength"), lit(0L)))
          .otherwise(0L))
          .over(wNode.orderBy(col("__rot"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("__ok") && col("__before") < col("size"))
      .select(col("__hn").as("datanodeId"), col("blockId"),
        col("generationStamp"), col("blockLength"),
        array_join(transform(col("__locs"), x => x.cast("string")), ",")
          .as("locations"))
  }

  // ---- N16: datanode report (live/dead partition) ----------------------

  def datanodeReport(datanode: DataFrame, nowMs: Long): DataFrame =
    live(datanode)
      .withColumn("alive", col("lastUpdated") >= nowMs - StateManager.HeartbeatExpiryMs)

  // ---- N17: lease recovery / block synchronization (:1506-1600) --------

  /** Per-block reconcile across replicas: max genstamp wins, truncate to
    * the min consistent length among max-genstamp replicas. */
  def blockSynchronization(block: DataFrame): DataFrame = {
    val b = live(block)
    val w = Window.partitionBy(col("id"))
    b.withColumn("__maxGs", max(col("generationStamp")).over(w))
      .filter(col("generationStamp") === col("__maxGs"))
      .groupBy(col("id"))
      .agg(max(col("generationStamp")).as("recoveredGenStamp"),
           min(when(col("length") >= 0, col("length"))).as("recoveredLength"),
           count(lit(1)).as("syncReplicas"))
  }
}
