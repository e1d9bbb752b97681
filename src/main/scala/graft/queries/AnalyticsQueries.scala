package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GateEntry
import graft.analytics.{Balancer, Dataflows, Placement, Replication}
import graft.model.DerivedState

/** Gate entries (Spark run + DuckDB oracle, see [[graft.GateEntry]]) for
  * the namenode dataflow operators (SURVEY §2.4, N1-N17) on the derived
  * state tables. */
object AnalyticsQueries {

  private val Now = DerivedState.NowMs

  private val pinViews = new java.util.concurrent.atomic.AtomicLong()

  /** Views-mode derivation fusion for the multi-action corrupt-marks
    * consumers (guide §2.4/§5): each reference to the `block`/`reported`
    * views re-runs the block derivation (a window over lineitem plus the
    * replica cross join — ~2.5 s per evaluation at sf0.1), and while
    * ReuseExchange dedupes identical subtrees WITHIN one action, a query
    * that takes several actions (marks checkpoint, ops checkpoint, pruned
    * scan, classification ladder) pays it once per action — profiled at
    * ~10 derivations inside n_block_received alone. Pin the LIVE block
    * rows once per evaluation (localCheckpoint — per-evaluation, never
    * cross-run) and re-point the report synthesis at the pin via
    * [[DerivedState.reportedSqlFrom]], so the derivation runs exactly
    * once however many actions follow.
    *
    * Bucketed mode returns the session views untouched: there `block` is
    * a real bucketed table whose scans are cheap and keyPrune's row-group
    * pushdown does the pruning — at cluster scale a namespace-sized pin
    * is a storage liability, not a win.
    *
    * Returns (block, reported, receipt ops): the ops frame is
    * [[BlockReceivedOpsSql]] over the same two sources. The SQL reaches
    * the pin through temp views named per call and dropped once it is
    * analysed, so two evaluations never share a view and the session
    * catalog keeps no reference to the pin after the call. */
  private[graft] def pinnedBlockReported(s: SparkSession)
      : (DataFrame, DataFrame, DataFrame) =
    if (s.conf.getOption("graft.layout").contains("bucketed"))
      (s.table("block"), s.table("reported"), s.sql(BlockReceivedOpsSql))
    else {
      val pin = graft.store.StateStore.live(s.table("block")).localCheckpoint()
      val call = pinViews.incrementAndGet()
      val (blockView, reportedView) = (s"graft_block_pin_$call", s"graft_reported_pin_$call")
      pin.createOrReplaceTempView(blockView)
      try {
        val rep = s.sql(DerivedState.reportedSqlFrom(blockView))
        rep.createOrReplaceTempView(reportedView)
        (pin, rep, s.sql(blockReceivedOpsSqlFrom(reportedView, blockView)))
      } finally Seq(blockView, reportedView).foreach(s.catalog.dropTempView)
    }

  def entries: Seq[GateEntry] = Seq(
    // N1: getBlockLocations — cumulative range selection + replica attach
    GateEntry("n1_block_locations", { (s, dir) =>
      DerivedState.register(s, dir)
      val reqs = s.sql(
        """SELECT CAST(1000000 + o_orderkey AS BIGINT) AS fileId,
          |       CAST(5000 AS BIGINT) AS offset, CAST(40000 AS BIGINT) AS reqLen
          |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin)
      Dataflows.blockLocations(s.table("block"), reqs)
        .select(col("fileId"), col("id"), col("fileIndex"), col("blockStart"),
          col("blockEnd"), col("primaryDatanodeId"), col("replicas"))
        .orderBy(col("fileId"), col("fileIndex"))
    }, O(
      """WITH entries AS (
        |  SELECT id, ANY_VALUE(fileId) AS fileId, ANY_VALUE(fileIndex) AS fileIndex,
        |    ARG_MAX(datanodeId, CAST(generationStamp AS HUGEINT) * 9223372036854775808 + version) AS primaryDatanodeId,
        |    ARG_MAX(length, CAST(generationStamp AS HUGEINT) * 9223372036854775808 + version) AS blockLength,
        |    STRING_AGG(CAST(datanodeId AS STRING), ',' ORDER BY datanodeId) AS replicas
        |  FROM block WHERE version > 0 GROUP BY id),
        |ranged AS (
        |  SELECT *,
        |    CAST(COALESCE(SUM(CASE WHEN blockLength > 0 THEN blockLength ELSE 0 END)
        |      OVER (PARTITION BY fileId ORDER BY fileIndex
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS blockStart,
        |    CAST(COALESCE(SUM(CASE WHEN blockLength > 0 THEN blockLength ELSE 0 END)
        |      OVER (PARTITION BY fileId ORDER BY fileIndex
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + (CASE WHEN blockLength > 0 THEN blockLength ELSE 0 END) AS BIGINT) AS blockEnd
        |  FROM entries)
        |SELECT r.fileId, r.id, r.fileIndex, r.blockStart, r.blockEnd,
        |       r.primaryDatanodeId, r.replicas
        |FROM ranged r JOIN (SELECT CAST(1000000 + o_orderkey AS BIGINT) AS reqFileId
        |                    FROM orders WHERE o_orderkey % 100 = 0) q
        |  ON r.fileId = q.reqFileId
        |WHERE r.blockStart < 5000 + 40000 AND (r.blockEnd > 5000 OR r.blockLength = -1)
        |ORDER BY r.fileId, r.fileIndex""".stripMargin), headline = true),
    // N1 distance sort: replicas ordered by network distance to client
    GateEntry("n1_distance_sort", { (s, dir) =>
      DerivedState.register(s, dir)
      Dataflows.replicasByDistance(
          s.table("block").filter(col("fileId") % 100 === 0L),
          s.table("datanode"), clientRack = "/rack2", clientNodeId = 7L)
        .orderBy(col("id"))
    }, O(
      """WITH r AS (
        |  SELECT b.id, b.fileId, b.datanodeId,
        |    CASE WHEN b.datanodeId = 7 THEN 0
        |         WHEN d.location = '/rack2' THEN 2
        |         ELSE 4 END AS distance
        |  FROM block b
        |  LEFT JOIN datanode d ON b.datanodeId = d.id AND d.version > 0
        |  WHERE b.version > 0 AND b.fileId % 100 = 0)
        |SELECT id, ANY_VALUE(fileId) AS fileId,
        |  STRING_AGG(CAST(datanodeId AS STRING), ',' ORDER BY distance, datanodeId)
        |    AS orderedReplicas,
        |  MIN(distance) AS nearestDistance
        |FROM r GROUP BY id ORDER BY id""".stripMargin)),
    // N1 distance sort over a 3-level topology (/dc/rack): the ladder
    // deepens to 0/2/4/6 — same rack, same dc other rack, other dc
    GateEntry("n1_distance_sort3", { (s, dir) =>
      DerivedState.register(s, dir)
      val dn3 = s.table("datanode").withColumn("location",
        concat(lit("/dc"), (col("id") % 2).cast("string"), col("location")))
      Dataflows.replicasByDistance(
          s.table("block").filter(col("fileId") % 100 === 0L),
          dn3, clientRack = "/dc1/rack2", clientNodeId = 7L)
        .orderBy(col("id"))
    }, O(
      """WITH dn AS (
        |  SELECT id, '/dc' || CAST(id % 2 AS STRING) || location AS location
        |  FROM datanode WHERE version > 0),
        |r AS (
        |  SELECT b.id, b.fileId, b.datanodeId,
        |    CASE WHEN b.datanodeId = 7 THEN 0
        |         WHEN d.location = '/dc1/rack2' THEN 2
        |         WHEN d.location LIKE '/dc1/%' THEN 4
        |         ELSE 6 END AS distance
        |  FROM block b
        |  LEFT JOIN dn d ON b.datanodeId = d.id
        |  WHERE b.version > 0 AND b.fileId % 100 = 0)
        |SELECT id, ANY_VALUE(fileId) AS fileId,
        |  STRING_AGG(CAST(datanodeId AS STRING), ',' ORDER BY distance, datanodeId)
        |    AS orderedReplicas,
        |  MIN(distance) AS nearestDistance
        |FROM r GROUP BY id ORDER BY id""".stripMargin)),
    // N1 side effect: the SAME request set's ATIME touch write-set — the
    // read path writes (tombstoned targets drop out via the live filter)
    GateEntry("n1_atime_touch", { (s, dir) =>
      DerivedState.register(s, dir)
      val reqs = s.sql(
        """SELECT CAST(1000000 + o_orderkey AS BIGINT) AS fileId
          |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin)
      Dataflows.atimeTouch(s.table("file"), reqs, Now)
        .orderBy(col("id"))
    }, O(
      """SELECT f.id, CAST(1700000000000 AS BIGINT) AS atime,
        |       f.version + 1000000000 AS version
        |FROM file f
        |JOIN (SELECT DISTINCT CAST(1000000 + o_orderkey AS BIGINT) AS fileId
        |      FROM orders WHERE o_orderkey % 100 = 0) q ON f.id = q.fileId
        |WHERE f.version > 0 AND f.length <> -1
        |ORDER BY f.id""".stripMargin)),
    // N5: block-report reconciliation — full-outer-join classification
    // NB: do NOT persist the block view here — ReuseExchange already
    // dedupes the derivation's shuffle across stored/freshest/reported,
    // and a columnar cache write measured ~50% slower (7.6s vs 5.0s)
    GateEntry("n5_block_report", { (s, dir) =>
      DerivedState.register(s, dir)
      Dataflows.reconcileReports(s.table("block"), s.table("reported"))
        .groupBy(col("datanodeId"), col("action"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("datanodeId"), col("action"))
    }, O(N5OracleSql), headline = true),
    // N5 through the streaming engine (SURVEY §3.3 flagship): the report
    // feed is dumped to parquet, ingested back as a file STREAM, and each
    // micro-batch runs the SAME stream-static reconciliation via
    // foreachBatch — the result must land on n5's exact oracle
    GateEntry("n5_stream_report_parity", { (s, dir) =>
      DerivedState.register(s, dir)
      val tmp = graft.core.Caching.scratchDir("n5-stream")
      val feedDir = tmp.resolve("feed").toString
      val outDir = tmp.resolve("out").toString
      // hash-partition the feed by datanodeId so no report SPANS files —
      // the wholeness invariant reconcileReportBatch depends on then holds
      // for ANY file-granularity batching (e.g. maxFilesPerTrigger)
      val feed = s.table("reported").repartition(col("datanodeId"))
      feed.write.parquet(feedDir)
      val q = s.readStream.schema(feed.schema).parquet(feedDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          Dataflows.reconcileReportBatch(batch.sparkSession.table("block"), batch)
            .groupBy(col("datanodeId"), col("action"))
            .agg(count(lit(1)).as("n"))
            .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the reference's SECOND pass: per-batch scoping cannot see stored
      // replicas on datanodes that never reported in the whole feed
      val neverReported =
        Dataflows.neverReportedRemovals(s.table("block"), s.read.parquet(feedDir))
          .groupBy(col("datanodeId"), col("action"))
          .agg(count(lit(1)).as("n"))
      s.read.parquet(outDir)
        .unionByName(neverReported)
        .groupBy(col("datanodeId"), col("action"))
        .agg(sum(col("n")).as("n"))
        .orderBy(col("datanodeId"), col("action"))
    },
      // the streamed variant must land on the identical result
      O(N5OracleSql)),
    // N5 post-pass: blocks of deleted files refine to the reference's
    // report-time cleanup (deleteInternal defers block deletion to the
    // next report) — every 37th file simulated as deleted since the feed
    GateEntry("n5_orphan_refine", { (s, dir) =>
      DerivedState.register(s, dir)
      // lit(-1): a plain -version would RESURRECT already-tombstoned rows
      val fileAfterDeletes = s.table("file")
        .withColumn("version",
          when(col("id") % 37 === 0, lit(-1L)).otherwise(col("version")))
      Dataflows.refineOrphanActions(
          Dataflows.reconcileReports(s.table("block"), s.table("reported")),
          s.table("block"), fileAfterDeletes)
        .groupBy(col("datanodeId"), col("action"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("datanodeId"), col("action"))
    }, O(
      s"""$N5ClassifySql,
        |owner AS (
        |  SELECT DISTINCT id AS obid, fileId FROM block WHERE version > 0),
        |livefiles AS (
        |  SELECT id AS lfid FROM file WHERE version > 0 AND id % 37 <> 0),
        |refined AS (
        |  SELECT c.datanodeId,
        |    CASE WHEN lf.lfid IS NOT NULL THEN c.action
        |         WHEN c.storedGenStamp IS NOT NULL THEN 'toRemove'
        |         ELSE 'toInvalidate' END AS action
        |  FROM classified c
        |  LEFT JOIN owner o ON c.blockId = o.obid
        |  LEFT JOIN livefiles lf ON o.fileId = lf.lfid)
        |SELECT datanodeId, action, COUNT(*) AS n FROM refined
        |GROUP BY 1, 2 ORDER BY datanodeId, action""".stripMargin)),
    // N6: under-replication priority queue — budgeted top-k
    GateEntry("n6_under_replicated", { (s, dir) =>
      DerivedState.register(s, dir)
      Dataflows.underReplicated(s.table("block"), s.table("file"),
          s.table("datanode"), Now, k = 100)
        .select(col("blockId"), col("fileId"), col("liveReplicaCount"),
          col("expectedReplication"), col("priority"))
    }, O(
      // the recursive `alloc` CTE replays Dataflows.roundRobinTakes sweep by
      // sweep: base = ceil(r/3) per level, unused quota spills to the next
      // level, leftover budget wraps into the next sweep
      s"""WITH RECURSIVE $N6PickCtes
        |$N6PickSelect
        |ORDER BY p.priority, p.blockId""".stripMargin), headline = true),
    // N8: excess-replica invalidation work
    GateEntry("n8_excess_replicas", { (s, dir) =>
      DerivedState.register(s, dir)
      Dataflows.excessReplicas(s.table("block"), s.table("file"), s.table("datanode"))
        .filter(col("id") % 20 === 0L)
        .select(col("id"), col("datanodeId"), col("remaining"), col("dropRank"))
        .orderBy(col("id"), col("dropRank"))
    }, O(
      // rack-aware drop order (chooseExcessReplicates): each rack's
      // max-remaining replica is its would-be survivor; non-survivors drop
      // first so an invalidation never removes a rack while alternatives
      // exist, least-remaining-space first within each class; replicas on
      // decommissioning/decommissioned nodes are excluded from nonExcess
      // before counting (processOverReplicatedBlock)
      """WITH x AS (
        |  SELECT b.id, b.datanodeId, d.remaining, f.replication,
        |         COALESCE(d.location, '?' || CAST(b.datanodeId AS VARCHAR)) AS rack,
        |         COUNT(*) OVER (PARTITION BY b.id) AS cnt
        |  FROM block b
        |  JOIN file f ON b.fileId = f.id AND f.version > 0 AND f.length <> -1
        |  LEFT JOIN datanode d ON b.datanodeId = d.id AND d.version > 0
        |  WHERE b.version > 0
        |    AND (d.adminState IS NULL OR d.adminState = 'NORMAL')),
        |y AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id, rack
        |           ORDER BY remaining DESC NULLS FIRST, datanodeId DESC) AS survRank
        |  FROM x),
        |z AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id
        |           ORDER BY CASE WHEN survRank = 1 THEN 1 ELSE 0 END ASC,
        |                    remaining ASC NULLS LAST, datanodeId ASC) AS dropRank
        |  FROM y WHERE cnt > replication)
        |SELECT id, datanodeId, remaining, dropRank FROM z
        |WHERE dropRank <= cnt - replication AND id % 20 = 0
        |ORDER BY id, dropRank""".stripMargin)),
    // N7: replica placement, the deterministic candidates-scoring
    // variant — the full ladder + isGoodTarget space/load/rack-quota
    // checks as one dataflow (see N7ReqSql for the three fixture arms)
    GateEntry("n7_placement", { (s, dir) =>
      DerivedState.register(s, dir)
      Placement.chooseTargetsScored(s.sql(N7ReqSql), s.sql(N7NodesSql), Now)
        .orderBy(col("reqId"), col("slot"))
    }, O(
      s"""WITH n7_nodes AS (
        |$N7NodesSql),
        |n7_req AS (
        |$N7ReqSql),
        |n7_live AS (
        |  SELECT id, location, remaining, xceiverCount FROM n7_nodes
        |  WHERE version > 0 AND lastUpdated >= $Now - 600000
        |    AND adminState = 'NORMAL'),
        |n7_stats AS (
        |  SELECT CAST(SUM(xceiverCount) AS BIGINT) AS sumL,
        |         COUNT(*) AS nL, COUNT(DISTINCT location) AS racks
        |  FROM n7_live),
        |n7_cand AS (
        |  SELECT r.reqId, r.writerRack, n.id AS nid, n.location AS nrack,
        |         CAST(2 + FLOOR(2.0 / s.racks) AS BIGINT) AS maxPerRack
        |  FROM n7_req r CROSS JOIN n7_live n CROSS JOIN n7_stats s
        |  WHERE n.remaining >= r.blockSize * 2
        |    AND n.xceiverCount * s.nL <= s.sumL * 2 + s.nL * 2),
        |n7_c1 AS (
        |  SELECT reqId, nid AS dn1, nrack AS rack1 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY reqId ORDER BY
        |      (nrack = writerRack) DESC,
        |      ((reqId % 97) * 31 + nid * 17 + 7) % 89, nid) AS rk
        |    FROM n7_cand) t WHERE rk = 1),
        |n7_c2 AS (
        |  SELECT reqId, nid AS dn2, nrack AS rack2 FROM (
        |    SELECT c.reqId, c.nid, c.nrack,
        |      ROW_NUMBER() OVER (PARTITION BY c.reqId ORDER BY
        |        (c.nrack <> o.rack1) DESC,
        |        ((c.reqId % 97) * 31 + c.nid * 17 + 14) % 89, c.nid) AS rk
        |    FROM n7_cand c JOIN n7_c1 o ON c.reqId = o.reqId
        |    WHERE c.nid <> o.dn1) t WHERE rk = 1),
        |n7_c3 AS (
        |  SELECT reqId, nid AS dn3, nrack AS rack3 FROM (
        |    SELECT c.reqId, c.nid, c.nrack,
        |      ROW_NUMBER() OVER (PARTITION BY c.reqId ORDER BY
        |        (CASE WHEN a.rack1 = b.rack2 THEN c.nrack <> b.rack2
        |              ELSE c.nrack = b.rack2 END) DESC,
        |        ((c.reqId % 97) * 31 + c.nid * 17 + 21) % 89, c.nid) AS rk
        |    FROM n7_cand c
        |    JOIN n7_c1 a ON c.reqId = a.reqId
        |    JOIN n7_c2 b ON c.reqId = b.reqId
        |    WHERE c.nid <> a.dn1 AND c.nid <> b.dn2
        |      AND (CASE WHEN c.nrack = a.rack1 THEN 1 ELSE 0 END)
        |        + (CASE WHEN c.nrack = b.rack2 THEN 1 ELSE 0 END)
        |        < c.maxPerRack) t WHERE rk = 1)
        |SELECT reqId, slot, datanodeId, rack FROM (
        |  SELECT reqId, CAST(1 AS BIGINT) AS slot, dn1 AS datanodeId,
        |         rack1 AS rack FROM n7_c1
        |  UNION ALL
        |  SELECT reqId, CAST(2 AS BIGINT), dn2, rack2 FROM n7_c2
        |  UNION ALL
        |  SELECT reqId, CAST(3 AS BIGINT), dn3, rack3 FROM n7_c3) u
        |ORDER BY reqId, slot""".stripMargin)),
    // N11: fsck — whole-namespace wide aggregation
    GateEntry("n11_fsck", { (s, dir) =>
      DerivedState.register(s, dir)
      Dataflows.fsck(s.table("file"), s.table("block"), s.table("datanode"), Now)
    }, O(
      s"""WITH livenodes AS (
        |  SELECT id, location FROM datanode WHERE version > 0
        |    AND lastUpdated >= $Now - 600000),
        |nrk AS (SELECT COUNT(DISTINCT location) AS clusterRacks FROM livenodes),
        |perblock AS (
        |  SELECT b.id AS blockId, b.fileId,
        |    COUNT(n.id) AS livec,
        |    COUNT(DISTINCT n.location) AS numRacks,
        |    MAX(GREATEST(b.length, 0)) AS blockLen
        |  FROM block b LEFT JOIN livenodes n ON b.datanodeId = n.id
        |  WHERE b.version > 0 GROUP BY b.id, b.fileId),
        |closed AS (
        |  SELECT id, replication, length FROM file
        |  WHERE version > 0 AND length <> -1 AND leaseHolder IS NULL),
        |perfile AS (
        |  SELECT f.id, f.length,
        |    COUNT(p.blockId) AS nb,
        |    SUM(CASE WHEN p.blockId IS NOT NULL AND p.livec = 0
        |             THEN 1 ELSE 0 END) AS miss,
        |    SUM(CASE WHEN p.blockId IS NOT NULL AND p.livec = 0
        |             THEN p.blockLen ELSE 0 END) AS msz,
        |    SUM(CASE WHEN p.livec > 0 AND p.livec < f.replication
        |             THEN 1 ELSE 0 END) AS und,
        |    SUM(CASE WHEN p.livec > f.replication THEN 1 ELSE 0 END) AS ovr,
        |    SUM(CASE WHEN p.livec >= 1 THEN 1 ELSE 0 END) AS minr,
        |    SUM(CASE WHEN r.clusterRacks > 1 AND p.blockId IS NOT NULL
        |              AND p.numRacks < LEAST(2, f.replication, r.clusterRacks)
        |             THEN 1 ELSE 0 END) AS misr,
        |    SUM(COALESCE(p.livec, 0)) AS reps
        |  FROM closed f LEFT JOIN perblock p ON p.fileId = f.id CROSS JOIN nrk r
        |  GROUP BY f.id, f.length),
        |dirsagg AS (
        |  SELECT COUNT(*) AS totalDirs FROM file
        |  WHERE version > 0 AND length = -1),
        |openagg AS (
        |  SELECT COUNT(*) AS totalOpenFiles,
        |    CAST(COALESCE(SUM(length), 0) AS BIGINT) AS totalOpenFilesSize
        |  FROM file
        |  WHERE version > 0 AND length <> -1 AND leaseHolder IS NOT NULL),
        |openblocks AS (
        |  SELECT COUNT(DISTINCT b.id) AS totalOpenFilesBlocks
        |  FROM block b JOIN file f2 ON b.fileId = f2.id
        |  WHERE b.version > 0 AND f2.version > 0 AND f2.length <> -1
        |    AND f2.leaseHolder IS NOT NULL)
        |SELECT COUNT(*) AS totalFiles, d.totalDirs,
        |  CAST(SUM(nb) AS BIGINT) AS totalBlocks,
        |  CAST(SUM(length) AS BIGINT) AS totalSize,
        |  CAST(SUM(und) AS BIGINT) AS underReplicatedBlocks,
        |  CAST(SUM(ovr) AS BIGINT) AS overReplicatedBlocks,
        |  CAST(SUM(minr) AS BIGINT) AS minReplicatedBlocks,
        |  CAST(SUM(misr) AS BIGINT) AS misReplicatedBlocks,
        |  CAST(SUM(miss) AS BIGINT) AS missingBlocks,
        |  CAST(SUM(msz) AS BIGINT) AS missingSize,
        |  COUNT(CASE WHEN miss > 0 THEN 1 END) AS corruptFiles,
        |  CASE WHEN SUM(nb) = 0 THEN 0.0
        |       ELSE CAST(SUM(reps) AS DOUBLE) / CAST(SUM(nb) AS DOUBLE)
        |  END AS avgReplication,
        |  o.totalOpenFiles, ob.totalOpenFilesBlocks, o.totalOpenFilesSize
        |FROM perfile CROSS JOIN dirsagg d CROSS JOIN openagg o
        |CROSS JOIN openblocks ob
        |GROUP BY d.totalDirs, o.totalOpenFiles, o.totalOpenFilesSize,
        |  ob.totalOpenFilesBlocks""".stripMargin), headline = true),
    // N11 per-file findings: the dead-node synthesis (FsckDeadNodesSql,
    // both dialects) orphans every block whose holders are all %4=1
    // nodes, so missing/under/over/mis-replicated all fire
    GateEntry("n11_fsck_files", { (s, dir) =>
      DerivedState.register(s, dir)
      Dataflows.fsckFiles(s.table("file"), s.table("block"),
          s.sql(FsckDeadNodesSql), Now)
        .orderBy(col("path"))
    }, O(
      s"""WITH RECURSIVE $FsckCommonCtes
        |SELECT pp.path, b.fileId, b.replication, b.fileSize, b.nBlocks,
        |  b.missingBlocks, b.missingSize, b.underBlocks, b.overBlocks,
        |  b.misReplicatedBlocks, FALSE AS openForWrite
        |FROM fk_bad b JOIN fk_path pp ON pp.id = b.fileId
        |ORDER BY pp.path""".stripMargin)),
    // N11 -blocks/-locations/-racks: per-block detail for a path-scoped
    // subtree — replica holders and their racks in datanodeId order
    GateEntry("n11_fsck_blocks", { (s, dir) =>
      DerivedState.register(s, dir)
      Dataflows.fsckBlocks(s.table("file"), s.table("block"),
          s.sql(FsckDeadNodesSql), Now, pathPrefix = "/n_7")
        .orderBy(col("path"), col("fileIndex"), col("blockId"))
    }, O(
      s"""WITH RECURSIVE $FsckCommonCtes,
        |scoped AS (
        |  SELECT f.id AS fileId, f.replication, pp.path
        |  FROM fk_fl f JOIN fk_path pp ON pp.id = f.id
        |  WHERE pp.path = '/n_7' OR starts_with(pp.path, '/n_7/')),
        |pb AS (
        |  SELECT b.id AS blockId, b.fileId, b.fileIndex,
        |    COUNT(n.id) AS liveReplicas,
        |    COUNT(DISTINCT n.location) AS numRacks,
        |    MAX(GREATEST(b.length, 0)) AS blockLen,
        |    string_agg(CAST(b.datanodeId AS VARCHAR), ',' ORDER BY b.datanodeId)
        |      FILTER (WHERE n.id IS NOT NULL) AS locations,
        |    string_agg(n.location, ',' ORDER BY b.datanodeId)
        |      FILTER (WHERE n.id IS NOT NULL) AS racks
        |  FROM block b LEFT JOIN fk_live n ON b.datanodeId = n.id
        |  WHERE b.version > 0
        |    AND b.fileId IN (SELECT fileId FROM scoped)
        |  GROUP BY b.id, b.fileId, b.fileIndex)
        |SELECT s.path, p.fileId, p.blockId, p.fileIndex, p.blockLen,
        |  p.liveReplicas,
        |  CAST(s.replication AS BIGINT) AS expectedReplication,
        |  p.liveReplicas = 0 AS missing,
        |  p.liveReplicas > 0 AND p.liveReplicas < s.replication
        |    AS underReplicated,
        |  p.liveReplicas > s.replication AS overReplicated,
        |  r.clusterRacks > 1 AND p.numRacks <
        |    LEAST(2, s.replication, r.clusterRacks) AS misReplicated,
        |  COALESCE(p.locations, '') AS locations,
        |  COALESCE(p.racks, '') AS racks
        |FROM pb p JOIN scoped s ON s.fileId = p.fileId CROSS JOIN fk_nrk r
        |ORDER BY s.path, p.fileIndex, p.blockId""".stripMargin)),
    // N11 -openforwrite: open files skip the early return and get the
    // same checks, marked openForWrite (DFSck flag :118-126)
    GateEntry("n11_fsck_open", { (s, dir) =>
      DerivedState.register(s, dir)
      Dataflows.fsckFiles(s.table("file"), s.table("block"),
          s.sql(FsckDeadNodesSql), Now, showOpenFiles = true)
        .orderBy(col("path"))
    }, O(
      s"""WITH RECURSIVE $FsckCommonCtes,
        |ofl AS (
        |  SELECT id, replication, length, leaseHolder IS NOT NULL AS ofw
        |  FROM file WHERE version > 0 AND length <> -1),
        |opf AS (
        |  SELECT f.id AS fileId, f.replication, f.length AS fileSize, f.ofw,
        |    COUNT(*) AS nBlocks,
        |    CAST(SUM(CASE WHEN p.liveReplicas = 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS missingBlocks,
        |    CAST(SUM(CASE WHEN p.liveReplicas = 0 THEN p.blockLen
        |             ELSE 0 END) AS BIGINT) AS missingSize,
        |    CAST(SUM(CASE WHEN p.liveReplicas > 0
        |              AND p.liveReplicas < f.replication THEN 1 ELSE 0 END)
        |         AS BIGINT) AS underBlocks,
        |    CAST(SUM(CASE WHEN p.liveReplicas > f.replication THEN 1 ELSE 0 END)
        |         AS BIGINT) AS overBlocks,
        |    CAST(SUM(CASE WHEN r.clusterRacks > 1 AND p.numRacks <
        |              LEAST(2, f.replication, r.clusterRacks) THEN 1 ELSE 0 END)
        |         AS BIGINT) AS misReplicatedBlocks
        |  FROM ofl f JOIN fk_pb p ON p.fileId = f.id CROSS JOIN fk_nrk r
        |  GROUP BY f.id, f.replication, f.length, f.ofw)
        |SELECT pp.path, b.fileId, b.replication, b.fileSize, b.nBlocks,
        |  b.missingBlocks, b.missingSize, b.underBlocks, b.overBlocks,
        |  b.misReplicatedBlocks, b.ofw AS openForWrite
        |FROM opf b JOIN fk_path pp ON pp.id = b.fileId
        |WHERE b.missingBlocks > 0 OR b.underBlocks > 0 OR b.overBlocks > 0
        |   OR b.misReplicatedBlocks > 0
        |ORDER BY pp.path""".stripMargin)),
    // N11 -move: lost+found write-set for the corrupt files
    GateEntry("n11_fsck_move", { (s, dir) =>
      DerivedState.register(s, dir)
      Dataflows.fsckMove(s.table("file"), s.table("block"),
          s.sql(FsckDeadNodesSql), Now, idBase = FsckMoveIdBase)
        .orderBy(col("writeOp"), col("tbl"), col("id"), col("datanodeId"))
    }, O(
      // `needs` (the lost+found mirror-dir set) is generated by SPLITTING
      // each corrupt path into its prefixes — a live file's proper path
      // prefixes are exactly its ancestor dirs (fk_path only admits rows
      // whose whole parent chain is live), so this equals the former
      // ancestor θ-join (starts_with over all dirs) row-for-row while
      // costing O(depth) per file instead of O(|dirs|). MATERIALIZED marks
      // keep DuckDB from re-inlining the shared CTEs per reference — the
      // former 186 s sf0.1 replay was `needs` re-evaluated 5×, not the
      // recursion (0.2 s); both fixes measured together: 2.3 s.
      s"""WITH RECURSIVE $FsckCommonCtes,
        |cor AS MATERIALIZED (
        |  SELECT b.fileId AS cfid, pp.path AS cpath, pp.parentId AS oldP,
        |    pp.name AS cname, pp.length AS clen0, pp.version AS cver
        |  FROM fk_bad b JOIN fk_path pp ON pp.id = b.fileId
        |  WHERE b.missingBlocks > 0),
        |needs AS MATERIALIZED (
        |  SELECT cfid, '/lost+found' || array_to_string(parts[1:k], '/')
        |    AS cpath
        |  FROM (SELECT cfid, parts, UNNEST(range(1, len(parts) + 1)) AS k
        |        FROM (SELECT cfid, string_split(cpath, '/') AS parts
        |              FROM cor) s) t),
        |exist AS MATERIALIZED (
        |  SELECT DISTINCT n.cpath AS epath, pp.id AS eid, pp.length AS elen
        |  FROM (SELECT DISTINCT cpath FROM needs) n
        |  JOIN fk_path pp ON pp.path = n.cpath),
        |blockedreq AS (
        |  SELECT DISTINCT n.cfid FROM needs n
        |  JOIN exist e ON e.epath = n.cpath AND e.elen <> -1),
        |ok AS MATERIALIZED (
        |  SELECT * FROM cor
        |  WHERE cfid NOT IN (SELECT cfid FROM blockedreq)),
        |pbx AS MATERIALIZED (
        |  SELECT b.fileId, b.id AS blockId, MAX(b.fileIndex) AS fileIndex,
        |    COUNT(n.id) AS livec,
        |    ARG_MAX(b.length, CAST(b.generationStamp AS HUGEINT)
        |            * 9223372036854775808 + b.version) AS blen
        |  FROM block b LEFT JOIN fk_live n ON b.datanodeId = n.id
        |  WHERE b.version > 0 AND b.fileId IN (SELECT cfid FROM ok)
        |  GROUP BY b.fileId, b.id),
        |runs AS (
        |  SELECT *, SUM(CASE WHEN has AND NOT COALESCE(prev, FALSE)
        |                     THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY fileId ORDER BY fileIndex, blockId) - 1 AS chain
        |  FROM (SELECT *, livec > 0 AS has,
        |          LAG(livec > 0) OVER (PARTITION BY fileId
        |            ORDER BY fileIndex, blockId) AS prev
        |        FROM pbx) t),
        |chains AS (
        |  SELECT r.fileId AS chfid, o.cpath AS opath,
        |    CAST(r.chain AS VARCHAR) AS chname,
        |    CAST(SUM(GREATEST(r.blen, 0)) AS BIGINT) AS clen
        |  FROM runs r JOIN ok o ON o.cfid = r.fileId
        |  WHERE r.has GROUP BY r.fileId, o.cpath, r.chain),
        |created AS (
        |  SELECT d.cpath, TRUE AS isDir, CAST(NULL AS BIGINT) AS clen FROM (
        |    SELECT DISTINCT n.cpath FROM needs n
        |    WHERE n.cfid IN (SELECT cfid FROM ok)
        |      AND n.cpath NOT IN (SELECT epath FROM exist)) d
        |  UNION ALL
        |  SELECT '/lost+found' || opath || '/' || chname, FALSE, clen
        |  FROM chains),
        |ranked AS MATERIALIZED (
        |  SELECT *, $FsckMoveIdBase + ROW_NUMBER() OVER (ORDER BY cpath)
        |    AS nid
        |  FROM created),
        |dirids AS (
        |  SELECT cpath AS ppath, nid AS ppid FROM ranked WHERE isDir
        |  UNION ALL SELECT epath, eid FROM exist WHERE elen = -1),
        |insrows AS (
        |  SELECT 'insert' AS writeOp, 'file' AS tbl, r.nid AS id,
        |    CAST(NULL AS BIGINT) AS datanodeId,
        |    COALESCE(d.ppid, 0) AS parentId,
        |    list_last(string_split(r.cpath, '/')) AS name,
        |    CASE WHEN r.isDir THEN CAST(-1 AS BIGINT) ELSE r.clen END
        |      AS length,
        |    CAST($Now AS BIGINT) AS mtime, r.nid AS version,
        |    CAST(NULL AS STRING) AS reject
        |  FROM ranked r LEFT JOIN dirids d ON d.ppath = substr(r.cpath, 1,
        |    length(r.cpath) - length(list_last(string_split(r.cpath, '/'))) - 1)),
        |ftombs AS (
        |  SELECT 'tombstone' AS writeOp, 'file' AS tbl, o.cfid AS id,
        |    CAST(NULL AS BIGINT) AS datanodeId, o.oldP AS parentId,
        |    o.cname AS name, o.clen0 AS length,
        |    CAST(NULL AS BIGINT) AS mtime, -o.cver AS version,
        |    CAST(NULL AS STRING) AS reject
        |  FROM ok o),
        |btombs AS (
        |  SELECT 'tombstone' AS writeOp, 'block' AS tbl, b.id, b.datanodeId,
        |    CAST(NULL AS BIGINT) AS parentId, CAST(NULL AS STRING) AS name,
        |    b.length, CAST(NULL AS BIGINT) AS mtime, -b.version AS version,
        |    CAST(NULL AS STRING) AS reject
        |  FROM block b
        |  WHERE b.version > 0 AND b.fileId IN (SELECT cfid FROM ok)),
        |touchids AS (
        |  SELECT DISTINCT tid FROM (
        |    SELECT oldP AS tid FROM ok
        |    UNION ALL
        |    SELECT parentId FROM insrows
        |    WHERE parentId NOT IN (SELECT nid FROM ranked)) t),
        |tchrows AS (
        |  SELECT 'touch' AS writeOp, 'file' AS tbl, pp.id,
        |    CAST(NULL AS BIGINT) AS datanodeId, pp.parentId, pp.name,
        |    pp.length, CAST($Now AS BIGINT) AS mtime, pp.version,
        |    CAST(NULL AS STRING) AS reject
        |  FROM fk_path pp JOIN touchids t ON pp.id = t.tid),
        |rejrows AS (
        |  SELECT 'reject' AS writeOp, 'file' AS tbl, cfid AS id,
        |    CAST(NULL AS BIGINT) AS datanodeId,
        |    CAST(NULL AS BIGINT) AS parentId, CAST(NULL AS STRING) AS name,
        |    CAST(NULL AS BIGINT) AS length, CAST(NULL AS BIGINT) AS mtime,
        |    CAST(NULL AS BIGINT) AS version,
        |    'lost+found path blocked by a file' AS reject
        |  FROM blockedreq)
        |SELECT writeOp, tbl, id, datanodeId, parentId, name, length, mtime,
        |  version, reject
        |FROM (SELECT * FROM insrows UNION ALL SELECT * FROM ftombs
        |      UNION ALL SELECT * FROM btombs UNION ALL SELECT * FROM tchrows
        |      UNION ALL SELECT * FROM rejrows) u
        |ORDER BY writeOp, tbl, id, datanodeId""".stripMargin)),
    // N11 -delete: tombstone write-set for the corrupt files
    GateEntry("n11_fsck_delete", { (s, dir) =>
      DerivedState.register(s, dir)
      Dataflows.fsckDelete(s.table("file"), s.table("block"),
          s.sql(FsckDeadNodesSql), Now)
        .orderBy(col("writeOp"), col("tbl"), col("id"), col("datanodeId"))
    }, O(
      s"""WITH RECURSIVE $FsckCommonCtes,
        |cor AS (SELECT fileId AS cfid FROM fk_bad WHERE missingBlocks > 0),
        |fl2 AS (
        |  SELECT id, parentId, name, length, version FROM file
        |  WHERE version > 0),
        |ftombs AS (
        |  SELECT 'tombstone' AS writeOp, 'file' AS tbl, c.cfid AS id,
        |    CAST(NULL AS BIGINT) AS datanodeId, f.parentId, f.name,
        |    f.length, CAST(NULL AS BIGINT) AS mtime, -f.version AS version
        |  FROM cor c JOIN fl2 f ON f.id = c.cfid),
        |btombs AS (
        |  SELECT 'tombstone' AS writeOp, 'block' AS tbl, b.id, b.datanodeId,
        |    CAST(NULL AS BIGINT) AS parentId, CAST(NULL AS STRING) AS name,
        |    b.length, CAST(NULL AS BIGINT) AS mtime, -b.version AS version
        |  FROM block b
        |  WHERE b.version > 0 AND b.fileId IN (SELECT cfid FROM cor)),
        |tchrows AS (
        |  SELECT 'touch' AS writeOp, 'file' AS tbl, f.id,
        |    CAST(NULL AS BIGINT) AS datanodeId, f.parentId, f.name,
        |    f.length, CAST($Now AS BIGINT) AS mtime, f.version AS version
        |  FROM fl2 f
        |  WHERE f.id IN (
        |    SELECT DISTINCT f2.parentId FROM cor c
        |    JOIN fl2 f2 ON f2.id = c.cfid))
        |SELECT writeOp, tbl, id, datanodeId, parentId, name, length, mtime,
        |  version
        |FROM (SELECT * FROM ftombs UNION ALL SELECT * FROM btombs
        |      UNION ALL SELECT * FROM tchrows) u
        |ORDER BY writeOp, tbl, id, datanodeId""".stripMargin)),
    // getBlocks: the balancer's source-block fetch — wrap-around cursor
    // scan of each requested node's blocks until the size budget fills,
    // location-less blocks skipped, all requests answered in one pass
    GateEntry("n_get_blocks", { (s, dir) =>
      DerivedState.register(s, dir)
      Dataflows.getBlocks(s.table("block"), s.table("datanode"),
          s.sql(GetBlocksReqSql))
        .orderBy(col("datanodeId"), col("blockId"))
    }, O(
      s"""WITH gb_req AS (
        |$GetBlocksReqSql),
        |gb_held AS (
        |  SELECT DISTINCT b.datanodeId AS hn, b.id AS blockId
        |  FROM block b WHERE b.version > 0
        |    AND b.datanodeId IN (SELECT datanodeId FROM gb_req)),
        |gb_dn AS (SELECT id FROM datanode WHERE version > 0),
        |gb_ent AS (
        |  SELECT b.id AS bid, MAX(b.generationStamp) AS generationStamp,
        |    ARG_MAX(b.length, CAST(b.generationStamp AS HUGEINT)
        |            * 9223372036854775808 + b.version) AS blockLength,
        |    list_sort(list(b.datanodeId)
        |      FILTER (WHERE d.id IS NOT NULL AND b.length <> -1)) AS locs
        |  FROM block b LEFT JOIN gb_dn d ON b.datanodeId = d.id
        |  WHERE b.version > 0 AND b.id IN (SELECT blockId FROM gb_held)
        |  GROUP BY b.id),
        |gb_ord AS (
        |  SELECT h.hn, h.blockId, e.generationStamp, e.blockLength, e.locs,
        |    r.size, r.startIdx,
        |    COUNT(*) OVER (PARTITION BY h.hn, r.size, r.startIdx) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY h.hn, r.size, r.startIdx
        |                       ORDER BY h.blockId) - 1 AS idx
        |  FROM gb_held h JOIN gb_ent e ON h.blockId = e.bid
        |  JOIN gb_req r ON h.hn = r.datanodeId),
        |gb_rot AS (
        |  SELECT *, ((idx - startIdx) % n + n) % n AS rot,
        |    COALESCE(len(locs), 0) > 0 AS ok
        |  FROM gb_ord),
        |gb_cum AS (
        |  SELECT *, COALESCE(SUM(CASE WHEN ok THEN GREATEST(blockLength, 0)
        |                             ELSE 0 END)
        |    OVER (PARTITION BY hn, size, startIdx ORDER BY rot
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS cbefore
        |  FROM gb_rot)
        |SELECT hn AS datanodeId, blockId, generationStamp, blockLength,
        |  array_to_string([CAST(x AS STRING) FOR x IN locs], ',') AS locations
        |FROM gb_cum WHERE ok AND cbefore < size
        |ORDER BY datanodeId, blockId""".stripMargin)),
    // getStats block counters (dfsadmin -report header next to
    // s13_cluster_stats' capacity aggregates)
    GateEntry("s13b_block_stats", { (s, dir) =>
      DerivedState.register(s, dir)
      val marks = Replication.corruptMarks(
        Dataflows.reconcileReports(s.table("block"), s.table("reported")))
      Dataflows.blockStats(s.table("block"), s.table("file"),
        s.table("datanode"), marks, Now)
    }, O(
      s"""$N5ClassifySql,
        |bs_marks AS (
        |  SELECT DISTINCT blockId, datanodeId FROM classified
        |  WHERE action = 'toInvalidate' AND storedGenStamp IS NOT NULL),
        |bs_ln AS (
        |  SELECT id FROM datanode WHERE version > 0 AND adminState = 'NORMAL'
        |    AND lastUpdated >= 1700000000000 - 600000),
        |bs_f AS (
        |  SELECT id AS fid, replication FROM file
        |  WHERE version > 0 AND length <> -1 AND leaseHolder IS NULL),
        |bs_pb AS (
        |  SELECT b.id AS blockId, b.fileId, COUNT(n.id) AS livec
        |  FROM block b LEFT JOIN bs_ln n ON b.datanodeId = n.id
        |  WHERE b.version > 0 GROUP BY b.id, b.fileId),
        |bs_j AS (
        |  SELECT p.livec, f.replication FROM bs_pb p
        |  JOIN bs_f f ON p.fileId = f.fid)
        |SELECT
        |  (SELECT COUNT(CASE WHEN livec > 0 AND livec < replication THEN 1 END)
        |   FROM bs_j) AS underReplicatedBlocks,
        |  (SELECT COUNT(DISTINCT blockId) FROM bs_marks) AS corruptReplicaBlocks,
        |  (SELECT COUNT(CASE WHEN livec = 0 THEN 1 END) FROM bs_j)
        |    AS missingBlocks""".stripMargin)),
    // N14: safe-mode threshold ratio
    GateEntry("n14_safe_mode", { (s, dir) =>
      DerivedState.register(s, dir)
      Dataflows.safeModeRatio(s.table("block"), minReplication = 2)
        .withColumn("ratio", col("safeBlocks").cast("double") / col("totalBlocks"))
    }, O(
      """WITH perblock AS (
        |  SELECT id, COUNT(*) AS replicas FROM block WHERE version > 0 GROUP BY id)
        |SELECT COUNT(*) AS totalBlocks,
        |  COUNT(CASE WHEN replicas >= 2 THEN 1 END) AS safeBlocks,
        |  CAST(COUNT(CASE WHEN replicas >= 2 THEN 1 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS ratio
        |FROM perblock""".stripMargin)),
    // N15: du / count / ContentSummary per top-level dir (all roots, one pass)
    GateEntry("n15_content_summary", { (s, dir) =>
      Dataflows.contentSummary(DerivedState.file(s, dir), (1L to 26L))
        .select(col("rootId"), col("length"), col("fileCount"), col("dirCount"))
        .orderBy(col("rootId"))
    }, O(
      """WITH lvl0 AS (
        |  SELECT id AS rootId, id, length FROM file
        |  WHERE version > 0 AND id >= 1 AND id <= 26),
        |lvl1 AS (
        |  SELECT p.rootId, f.id, f.length FROM file f JOIN lvl0 p ON f.parentId = p.id
        |  WHERE f.version > 0),
        |lvl2 AS (
        |  SELECT p.rootId, f.id, f.length FROM file f JOIN lvl1 p ON f.parentId = p.id
        |  WHERE f.version > 0),
        |allrows AS (
        |  SELECT * FROM lvl0 UNION ALL SELECT * FROM lvl1 UNION ALL SELECT * FROM lvl2)
        |SELECT rootId,
        |  CAST(SUM(CASE WHEN length <> -1 AND length > 0 THEN length ELSE 0 END) AS BIGINT) AS length,
        |  COUNT(CASE WHEN length <> -1 THEN 1 END) AS fileCount,
        |  COUNT(CASE WHEN length = -1 THEN 1 END) AS dirCount
        |FROM allrows GROUP BY rootId ORDER BY rootId""".stripMargin), headline = true),
    // N15 quota surface (count -q): per-root nsQuota/dsQuota rows joined
    // onto the summary; remaining quotas follow ContentSummary.toString's
    // quota>0 gate (null = "inf"/"none" when unset)
    GateEntry("n15_quota", { (s, dir) =>
      val quotas = s.sql(QuotaRowsSql)
      Dataflows.contentSummary(DerivedState.file(s, dir), (1L to 26L),
          quotas = Some(quotas))
        .withColumn("remainingQuota",
          when(col("quota") > 0, col("quota") - (col("dirCount") + col("fileCount"))))
        .withColumn("remainingSpaceQuota",
          when(col("spaceQuota") > 0, col("spaceQuota") - col("spaceConsumed")))
        .select(col("rootId"), col("quota"), col("remainingQuota"),
          col("spaceQuota"), col("remainingSpaceQuota"),
          col("dirCount"), col("fileCount"), col("length"), col("spaceConsumed"))
        .orderBy(col("rootId"))
    }, O(
      s"""WITH lvl0 AS (
        |  SELECT id AS rootId, id, length, replication FROM file
        |  WHERE version > 0 AND id >= 1 AND id <= 26),
        |lvl1 AS (
        |  SELECT p.rootId, f.id, f.length, f.replication
        |  FROM file f JOIN lvl0 p ON f.parentId = p.id WHERE f.version > 0),
        |lvl2 AS (
        |  SELECT p.rootId, f.id, f.length, f.replication
        |  FROM file f JOIN lvl1 p ON f.parentId = p.id WHERE f.version > 0),
        |allrows AS (
        |  SELECT * FROM lvl0 UNION ALL SELECT * FROM lvl1 UNION ALL SELECT * FROM lvl2),
        |summary AS (
        |  SELECT rootId,
        |    CAST(SUM(CASE WHEN length <> -1 AND length > 0 THEN length ELSE 0 END) AS BIGINT) AS length,
        |    COUNT(CASE WHEN length <> -1 THEN 1 END) AS fileCount,
        |    COUNT(CASE WHEN length = -1 THEN 1 END) AS dirCount,
        |    CAST(SUM(CASE WHEN length <> -1 AND length > 0 THEN length * replication ELSE 0 END) AS BIGINT) AS spaceConsumed
        |  FROM allrows GROUP BY rootId),
        |quotarows AS (
        |$QuotaRowsSql
        |)
        |SELECT s.rootId,
        |  COALESCE(q.nsQuota, CAST(-1 AS BIGINT)) AS quota,
        |  CASE WHEN COALESCE(q.nsQuota, CAST(-1 AS BIGINT)) > 0
        |       THEN q.nsQuota - (s.dirCount + s.fileCount) END AS remainingQuota,
        |  COALESCE(q.dsQuota, CAST(-1 AS BIGINT)) AS spaceQuota,
        |  CASE WHEN COALESCE(q.dsQuota, CAST(-1 AS BIGINT)) > 0
        |       THEN q.dsQuota - s.spaceConsumed END AS remainingSpaceQuota,
        |  s.dirCount, s.fileCount, s.length, s.spaceConsumed
        |FROM summary s LEFT JOIN quotarows q ON s.rootId = q.dirId
        |ORDER BY s.rootId""".stripMargin)),
    // N16: datanode report — live/dead × adminState partition
    GateEntry("n16_datanode_report", { (s, dir) =>
      Dataflows.datanodeReport(DerivedState.datanode(s, dir), Now)
        .groupBy(col("alive"), col("adminState"))
        .agg(count(lit(1)).as("nodes"), sum(col("capacity")).as("capacity"))
        .orderBy(col("alive"), col("adminState"))
    }, O(
      """SELECT lastUpdated >= 1700000000000 - 600000 AS alive, adminState,
        |  COUNT(*) AS nodes, CAST(SUM(capacity) AS BIGINT) AS capacity
        |FROM datanode WHERE version > 0
        |GROUP BY 1, 2 ORDER BY alive, adminState""".stripMargin)),
    // N17: lease recovery / block synchronization
    GateEntry("n17_block_sync", { (s, dir) =>
      val b = DerivedState.block(s, dir)
      Dataflows.blockSynchronization(
          b.filter(col("fileId") % 50 === 0L))
        .orderBy(col("id"))
    }, O(
      """WITH b AS (SELECT * FROM block WHERE version > 0 AND fileId % 50 = 0),
        |mx AS (SELECT id, MAX(generationStamp) AS maxGs FROM b GROUP BY id)
        |SELECT b.id, MAX(b.generationStamp) AS recoveredGenStamp,
        |  MIN(CASE WHEN b.length >= 0 THEN b.length END) AS recoveredLength,
        |  COUNT(*) AS syncReplicas
        |FROM b JOIN mx ON b.id = mx.id AND b.generationStamp = mx.maxGs
        |GROUP BY b.id ORDER BY b.id""".stripMargin)),
    // Balancer planner (server/balancer/Balancer.java): per-node
    // classification vs cluster-average utilization, the imbalance
    // scalar, the six-pass (source,target,bytes) schedule and the
    // per-pair block pick. Threshold 0.08% spreads the synthetic
    // cluster across all four classes.
    GateEntry("bal1_classify", { (s, dir) =>
      Balancer.classify(DerivedState.datanode(s, dir), Now, BalancerThreshold)
        .orderBy(col("id"))
    }, O(
      s"""WITH $BalancerClsCtes
        |SELECT id, location, nodeClass, maxSizeToMove,
        |  CAST(trunc(u * 10000.0) AS BIGINT) AS utilBp
        |FROM bl_cls ORDER BY id""".stripMargin)),
    GateEntry("bal2_imbalance", { (s, dir) =>
      Balancer.imbalance(DerivedState.datanode(s, dir), Now, BalancerThreshold)
    }, O(
      s"""WITH $BalancerClsCtes
        |SELECT overLoadedBytes, underLoadedBytes,
        |  GREATEST(overLoadedBytes, underLoadedBytes) AS bytesLeftToMove
        |FROM (SELECT
        |  CAST(COALESCE(SUM(CASE WHEN nodeClass = 'overUtilized'
        |    THEN CAST(trunc((u - avgU - $BalancerThreshold) * capacity / 100.0) AS BIGINT)
        |    END), 0) AS BIGINT) AS overLoadedBytes,
        |  CAST(COALESCE(SUM(CASE WHEN nodeClass = 'underUtilized'
        |    THEN CAST(trunc((avgU - $BalancerThreshold - u) * capacity / 100.0) AS BIGINT)
        |    END), 0) AS BIGINT) AS underLoadedBytes
        |  FROM bl_cls)""".stripMargin)),
    GateEntry("bal3_pairs", { (s, dir) =>
      Balancer.pairs(DerivedState.datanode(s, dir), Now, BalancerThreshold)
        .orderBy(col("pass"), col("sourceId"), col("targetId"))
    }, O(
      s"""WITH $BalancerClsCtes,
        |$BalancerPassCtes
        |SELECT pass, sourceId, targetId, moveSize FROM bl_pairs
        |ORDER BY pass, sourceId, targetId""".stripMargin)),
    GateEntry("bal4_moves", { (s, dir) =>
      val dn = DerivedState.datanode(s, dir)
      Balancer.movePlan(
          Balancer.pairs(dn, Now, BalancerThreshold),
          DerivedState.block(s, dir), dn, Now)
        .orderBy(col("pass"), col("sourceId"), col("targetId"), col("blockId"))
    }, O(
      s"""WITH $BalancerClsCtes,
        |$BalancerPassCtes,
        |bl_rk AS (SELECT id, location FROM bl_live),
        |bl_locs AS (
        |  SELECT b.id AS blockId, b.datanodeId AS holderId, r.location AS rack
        |  FROM (SELECT DISTINCT id, datanodeId FROM block WHERE version > 0) b
        |  JOIN bl_rk r ON b.datanodeId = r.id),
        |bl_len AS (
        |  SELECT id AS blockId,
        |    ARG_MAX(length, CAST(generationStamp AS HUGEINT) * 9223372036854775808 + version) AS blockLength
        |  FROM block WHERE version > 0 GROUP BY id),
        |bl_cand AS (
        |  SELECT p.pass, p.sourceId, p.targetId, p.moveSize, l.blockId, n.blockLength
        |  FROM bl_pairs p
        |  JOIN bl_rk sr ON sr.id = p.sourceId
        |  JOIN bl_rk tr ON tr.id = p.targetId
        |  JOIN bl_locs l ON l.holderId = p.sourceId
        |  JOIN bl_len n ON n.blockId = l.blockId AND n.blockLength > 0
        |  WHERE NOT EXISTS (SELECT 1 FROM bl_locs x
        |          WHERE x.blockId = l.blockId AND x.holderId = p.targetId)
        |    AND (sr.location = tr.location
        |         OR NOT EXISTS (SELECT 1 FROM bl_locs x
        |              WHERE x.blockId = l.blockId AND x.rack = tr.location)
        |         OR EXISTS (SELECT 1 FROM bl_locs x
        |              WHERE x.blockId = l.blockId AND x.holderId <> p.sourceId
        |                AND x.rack = sr.location))),
        |bl_claim AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY blockId
        |    ORDER BY pass, sourceId, targetId) AS rn
        |  FROM bl_cand),
        |bl_budget AS (
        |  SELECT *, SUM(blockLength) OVER (PARTITION BY pass, sourceId, targetId
        |    ORDER BY blockId) AS cum
        |  FROM bl_claim WHERE rn = 1)
        |SELECT pass, sourceId, targetId, blockId, blockLength FROM bl_budget
        |WHERE cum <= moveSize
        |ORDER BY pass, sourceId, targetId, blockId""".stripMargin), materializeOracle = true),
    // N10 PendingReplicationBlocks lifecycle end-to-end: seed pending
    // table → this tick's schedule (add/increment+timestamp reset) →
    // blockReceived decrements → timeout scan → the timed-out blocks
    // re-enter the under-replication queue with CURRENT replica counts.
    // A block rescheduled this tick never times out (timestamp reset);
    // a fully-received block leaves the table before the scan.
    GateEntry("n10_pending_requeue", { (s, dir) =>
      DerivedState.register(s, dir)
      val p1 = Replication.pendingAfterSchedule(
        s.sql(PendingSeedSql), s.sql(PendingScheduledSql), Now)
      val p2 = Replication.pendingAfterReceipts(p1, s.sql(PendingReceivedSql))
      val t = Replication.pendingTimedOut(p2, Now)
      Replication.pendingRequeue(t, s.table("block"), s.table("file"),
          s.table("datanode"), Now)
        .orderBy(col("blockId"))
    }, O(
      // the lifecycle pipeline replayed CTE by CTE: full-outer schedule
      // merge (timestamp reset), receipt decrement with the <=0 drop, the
      // 5-minute timeout scan, then the requeue scoring over CURRENT state
      s"""WITH pr_seed AS (
        |$PendingSeedSql),
        |pr_sched AS (
        |$PendingScheduledSql),
        |pr_recv AS (
        |$PendingReceivedSql),
        |pr_p1 AS (
        |  SELECT COALESCE(p.blockId, s.blockId) AS blockId,
        |         COALESCE(p.inFlight, CAST(0 AS BIGINT))
        |           + COALESCE(s.add0, CAST(0 AS BIGINT)) AS inFlight,
        |         CASE WHEN s.blockId IS NOT NULL THEN CAST(1700000000000 AS BIGINT)
        |              ELSE p.since END AS since
        |  FROM pr_seed p
        |  FULL OUTER JOIN (SELECT blockId, SUM(numTargets) AS add0
        |                   FROM pr_sched GROUP BY blockId) s
        |    ON p.blockId = s.blockId),
        |pr_p2 AS (
        |  SELECT p.blockId,
        |         p.inFlight - COALESCE(r.done, CAST(0 AS BIGINT)) AS inFlight,
        |         p.since
        |  FROM pr_p1 p
        |  LEFT JOIN (SELECT blockId, COUNT(*) AS done
        |             FROM pr_recv GROUP BY blockId) r
        |    ON p.blockId = r.blockId
        |  WHERE p.inFlight - COALESCE(r.done, CAST(0 AS BIGINT)) > 0),
        |pr_t AS (SELECT blockId FROM pr_p2 WHERE 1700000000000 > since + 300000),
        |pr_ln AS (
        |  SELECT id FROM datanode WHERE version > 0 AND adminState = 'NORMAL'
        |    AND lastUpdated >= 1700000000000 - 600000),
        |pr_cnt AS (
        |  SELECT b.id AS blockId, b.fileId, COUNT(n.id) AS liveReplicaCount
        |  FROM block b LEFT JOIN pr_ln n ON b.datanodeId = n.id
        |  WHERE b.version > 0 AND b.id IN (SELECT blockId FROM pr_t)
        |  GROUP BY b.id, b.fileId)
        |SELECT c.blockId, c.fileId, c.liveReplicaCount,
        |       f.replication AS expectedReplication,
        |       CASE WHEN c.liveReplicaCount <= 1 THEN 0
        |            WHEN c.liveReplicaCount * 3 < f.replication THEN 1
        |            ELSE 2 END AS priority
        |FROM pr_cnt c JOIN file f ON c.fileId = f.id AND f.version > 0 AND f.length <> -1
        |WHERE c.liveReplicaCount < f.replication
        |ORDER BY c.blockId""".stripMargin)),
    // N10 tick with the pending discount (computeReplicationWorkForBlock):
    // effective = live + in-flight, so blocks with enough work already
    // scheduled drop out and the rest carry needed = expected − effective
    GateEntry("n10_tick", { (s, dir) =>
      DerivedState.register(s, dir)
      val work = Dataflows.underReplicated(s.table("block"), s.table("file"),
        s.table("datanode"), Now, k = 100)
      Replication.discountPending(work, s.sql(PendingTickSql))
        .select(col("blockId"), col("fileId"), col("liveReplicaCount"),
          col("expectedReplication"), col("priority"), col("pendingReplicas"),
          col("effectiveReplicas"), col("needed"))
        .orderBy(col("priority"), col("blockId"))
    }, O(
      s"""WITH RECURSIVE $N6PickCtes,
        |n10_pick AS (
        |$N6PickSelect),
        |n10_pend AS (
        |$PendingTickSql)
        |SELECT p.blockId, p.fileId, p.liveReplicaCount, p.expectedReplication,
        |  p.priority,
        |  COALESCE(s.inFlight, CAST(0 AS BIGINT)) AS pendingReplicas,
        |  p.liveReplicaCount + COALESCE(s.inFlight, CAST(0 AS BIGINT))
        |    AS effectiveReplicas,
        |  p.expectedReplication
        |    - (p.liveReplicaCount + COALESCE(s.inFlight, CAST(0 AS BIGINT)))
        |    AS needed
        |FROM n10_pick p LEFT JOIN n10_pend s ON p.blockId = s.blockId
        |WHERE p.expectedReplication
        |    - (p.liveReplicaCount + COALESCE(s.inFlight, CAST(0 AS BIGINT))) > 0
        |ORDER BY p.priority, p.blockId""".stripMargin)),
    // N9 heartbeat command caps: the reporting nodes pick up their queued
    // work capped per beat — maxReplicationStreams − xmitsInProgress
    // replicate commands, blockInvalidateLimit invalidations, blockId
    // order (the SAME capCommands body the streaming monitor runs)
    GateEntry("n9_commands", { (s, dir) =>
      DerivedState.register(s, dir)
      Replication.capCommands(s.sql(N9WorkQueueSql), s.sql(N9BeatingSql),
          maxReplicationStreams = 2, blockInvalidateLimit = 5)
        .select(col("datanodeId"), col("blockId"), col("command"))
        .orderBy(col("datanodeId"), col("command"), col("blockId"))
    }, O(
      s"""WITH n9w AS (
        |$N9WorkQueueSql),
        |n9b AS (
        |$N9BeatingSql),
        |n9x AS (SELECT datanodeId, MAX(xmitsInProgress) AS xm
        |        FROM n9b GROUP BY datanodeId),
        |n9j AS (
        |  SELECT w.datanodeId, w.blockId, w.command,
        |    GREATEST(0, 2 - x.xm) AS replCap,
        |    ROW_NUMBER() OVER (PARTITION BY w.datanodeId, w.command
        |                       ORDER BY w.blockId) AS rn
        |  FROM n9w w JOIN n9x x ON w.datanodeId = x.datanodeId)
        |SELECT datanodeId, blockId, command FROM n9j
        |WHERE rn <= CASE WHEN command = 'replicate' THEN replCap ELSE 5 END
        |ORDER BY datanodeId, command, blockId""".stripMargin)),
    // blockReceived per-op incremental reconcile: each receipt classifies
    // against CURRENT state (reject/corrupt/add/update/ignore — the
    // addStoredBlock ladder) and over-replicated valid receipts emit the
    // chooseExcessReplicates first drop, honoring delHint when eligible
    GateEntry("n_block_received", { (s, dir) =>
      DerivedState.register(s, dir)
      // the standing CorruptReplicasMap rides along: marked stored
      // replicas are excluded from the post-op holder count the way
      // countNodes excludes corrupt replicas from liveReplicas.
      // BOTH corrupt branches are non-vacuous here (probed at sf0.001/
      // sf0.01): 144/1067 standing marks hit op-block stored holders, 7+
      // valid receipts share a block with a standing-marked co-holder
      // (their liveAfter reflects the exclusion), and 52/508 in-batch
      // receipts classify corruptInvalidate from a STORED holder.
      // pinnedBlockReported: this entry takes ~6 actions (marks/ops/
      // pruned/classified/ranked checkpoints + the final count), each of
      // which re-derived the block view — ~10 derivations profiled at
      // 22-26 s total; the pin collapses them to one.
      // marks is deliberately NOT checkpointed here (unlike
      // n1_corrupt_sweep's, which is read 3×): blockReceived consumes it
      // exactly once (the markDim broadcast), so with the inputs pinned a
      // checkpoint would only add an action — profiled ~2-3 s of pure
      // scheduling/write overhead
      val (blockDf, reportedDf, ops) = pinnedBlockReported(s)
      val marks = Replication.corruptMarks(
        Dataflows.reconcileReports(blockDf, reportedDf))
      Replication.blockReceived(blockDf, s.table("file"),
          s.table("datanode"), ops, corrupt = Some(marks))
        .orderBy(col("blockId"), col("datanodeId"))
    }, O(
      s"""$N5ClassifySql,
        |br_marks AS (
        |  SELECT DISTINCT blockId, datanodeId FROM classified
        |  WHERE action = 'toInvalidate' AND storedGenStamp IS NOT NULL),
        |br_ops AS (
        |$BlockReceivedOpsSql),
        |br_pruned AS (
        |  SELECT b.* FROM block b WHERE b.version > 0
        |    AND b.id IN (SELECT blockId FROM br_ops)),
        |br_fresh AS (
        |  SELECT id AS bid, MAX(generationStamp) AS maxGenStamp,
        |    ARG_MAX(length, CAST(generationStamp AS HUGEINT)
        |            * 9223372036854775808 + version) AS freshestLength,
        |    ANY_VALUE(fileId) AS ownerFid
        |  FROM br_pruned GROUP BY id),
        |br_stored AS (
        |  SELECT id AS blockId, datanodeId, length AS storedLength,
        |         generationStamp AS storedGenStamp FROM br_pruned),
        |br_fdim AS (
        |  SELECT id AS fid, replication AS expectedReplication,
        |         leaseHolder IS NOT NULL AS isopen
        |  FROM file WHERE version > 0),
        |br_last AS (
        |  SELECT fileId AS lf, MAX(fileIndex) AS lastIdx FROM block
        |  WHERE version > 0 AND fileId IN (SELECT ownerFid FROM br_fresh)
        |  GROUP BY fileId),
        |br_opidx AS (
        |  SELECT id AS ib, MAX(fileIndex) AS blkIdx FROM br_pruned GROUP BY id),
        |br_cls AS (
        |  SELECT o.datanodeId, o.blockId, o.delHint,
        |    fd.expectedReplication,
        |    COALESCE(fd.isopen AND oi.blkIdx = l.lastIdx, FALSE) AS blockUC,
        |    CASE WHEN f.bid IS NULL THEN 'rejectInvalidate'
        |         WHEN fd.fid IS NULL THEN 'rejectInvalidate'
        |         WHEN o.repGenStamp < f.maxGenStamp THEN 'corruptInvalidate'
        |         WHEN o.repGenStamp = f.maxGenStamp
        |              AND o.repLength < f.freshestLength THEN 'corruptInvalidate'
        |         WHEN s.storedGenStamp IS NULL THEN 'add'
        |         WHEN s.storedGenStamp <> o.repGenStamp
        |              OR s.storedLength <> o.repLength THEN 'update'
        |         ELSE 'ignore' END AS outcome,
        |    s.storedGenStamp IS NOT NULL AS stored
        |  FROM br_ops o
        |  LEFT JOIN br_stored s ON o.blockId = s.blockId AND o.datanodeId = s.datanodeId
        |  LEFT JOIN br_fresh f ON o.blockId = f.bid
        |  LEFT JOIN br_fdim fd ON f.ownerFid = fd.fid
        |  LEFT JOIN br_last l ON f.ownerFid = l.lf
        |  LEFT JOIN br_opidx oi ON o.blockId = oi.ib),
        |br_holders AS (
        |  SELECT DISTINCT hb, datanodeId FROM (
        |    SELECT id AS hb, datanodeId FROM br_pruned
        |    UNION ALL
        |    SELECT blockId AS hb, datanodeId FROM br_cls
        |    WHERE outcome IN ('add', 'update', 'ignore')) u
        |  WHERE NOT EXISTS (SELECT 1 FROM br_marks m
        |                    WHERE m.blockId = u.hb
        |                      AND m.datanodeId = u.datanodeId)
        |    -- an in-batch corrupt receipt from a STORED holder marks
        |    -- that replica: it leaves the holder set like a standing mark
        |    AND NOT EXISTS (SELECT 1 FROM br_cls c2
        |                    WHERE c2.blockId = u.hb
        |                      AND c2.datanodeId = u.datanodeId
        |                      AND c2.outcome = 'corruptInvalidate'
        |                      AND c2.stored)),
        |br_hr AS (
        |  SELECT h.hb, h.datanodeId, d.remaining,
        |    COALESCE(d.location, '?' || CAST(h.datanodeId AS VARCHAR)) AS rackKey
        |  FROM br_holders h
        |  LEFT JOIN datanode d ON h.datanodeId = d.id AND d.version > 0
        |  WHERE d.adminState IS NULL OR d.adminState = 'NORMAL'),
        |br_rank AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY hb
        |      ORDER BY pri DESC, remaining ASC NULLS LAST, datanodeId ASC) AS stdRank
        |  FROM (SELECT *, COUNT(*) OVER (PARTITION BY hb) AS cnt,
        |          COUNT(*) OVER (PARTITION BY hb, rackKey) > 1 AS pri
        |        FROM br_hr) t),
        |br_std AS (SELECT hb AS sb, datanodeId AS stdDrop FROM br_rank WHERE stdRank = 1),
        |br_cnt AS (SELECT hb AS cb, MAX(cnt) AS liveAfter FROM br_rank GROUP BY hb)
        |SELECT c.datanodeId, c.blockId, c.outcome,
        |  CASE WHEN c.outcome IN ('add','update','ignore')
        |       THEN COALESCE(n.liveAfter, 0) END AS liveAfter,
        |  c.expectedReplication,
        |  CASE WHEN c.outcome IN ('add','update','ignore') AND NOT c.blockUC
        |        AND COALESCE(n.liveAfter, 0) > c.expectedReplication
        |       THEN CASE WHEN hf.fd IS NOT NULL
        |                  AND (hf.hintPri OR NOT COALESCE(af.addedPri, FALSE))
        |                 THEN c.delHint ELSE sd.stdDrop END
        |  END AS firstDrop
        |FROM br_cls c
        |LEFT JOIN br_cnt n ON c.blockId = n.cb
        |LEFT JOIN br_std sd ON c.blockId = sd.sb
        |LEFT JOIN (SELECT hb AS fb, datanodeId AS fd, pri AS hintPri FROM br_rank) hf
        |  ON c.blockId = hf.fb AND c.delHint = hf.fd AND c.delHint <> c.datanodeId
        |LEFT JOIN (SELECT hb AS ab, datanodeId AS ad, pri AS addedPri FROM br_rank) af
        |  ON c.blockId = af.ab AND c.datanodeId = af.ad
        |ORDER BY c.blockId, c.datanodeId""".stripMargin), materializeOracle = true),
    // invalidateCorruptReplicas sweep: once a block has enough GOOD live
    // replicas, its corrupt marks convert to invalidation work and leave
    // the standing map
    GateEntry("n1_corrupt_sweep", { (s, dir) =>
      DerivedState.register(s, dir)
      // pin the marks: corruptInvalidations reads the standing map three
      // times (marked-block prune, mark dim, final join) — leaving it a
      // view would run the full N5 classification thrice (measured 7.5 s
      // vs 3.9 s at sf0.1); the map is corrupt-set-sized by contract.
      // pinnedBlockReported: the marks checkpoint, the marked-row prune
      // checkpoint and the final join each re-derived the block view —
      // the pin collapses those derivations to one
      val (blockDf, reportedDf, _) = pinnedBlockReported(s)
      val marks = Replication.corruptMarks(
        Dataflows.reconcileReports(blockDf, reportedDf))
        .localCheckpoint()
      Replication.corruptInvalidations(marks, blockDf,
          s.table("file"), s.table("datanode"), Now)
        .orderBy(col("blockId"), col("datanodeId"))
    }, O(
      s"""$N5ClassifySql,
        |cs_marks AS (
        |  SELECT DISTINCT blockId, datanodeId FROM classified
        |  WHERE action = 'toInvalidate' AND storedGenStamp IS NOT NULL),
        |cs_ln AS (
        |  SELECT id FROM datanode WHERE version > 0 AND adminState = 'NORMAL'
        |    AND lastUpdated >= 1700000000000 - 600000),
        |cs_good AS (
        |  SELECT b.id AS gbid, COUNT(*) AS good
        |  FROM block b
        |  JOIN cs_ln n ON b.datanodeId = n.id
        |  LEFT JOIN cs_marks m ON b.id = m.blockId AND b.datanodeId = m.datanodeId
        |  WHERE b.version > 0 AND b.id IN (SELECT blockId FROM cs_marks)
        |    AND m.blockId IS NULL
        |  GROUP BY b.id),
        |cs_owner AS (SELECT DISTINCT id AS obid, fileId FROM block WHERE version > 0),
        |cs_exp AS (SELECT id AS fid, replication FROM file
        |           WHERE version > 0 AND length <> -1)
        |SELECT m.blockId, m.datanodeId, 'toInvalidate' AS action
        |FROM cs_marks m
        |LEFT JOIN cs_good g ON m.blockId = g.gbid
        |LEFT JOIN cs_owner o ON m.blockId = o.obid
        |LEFT JOIN cs_exp e ON o.fileId = e.fid
        |WHERE COALESCE(g.good, 0) >= e.replication
        |ORDER BY m.blockId, m.datanodeId""".stripMargin)),
    // N1 consulting the standing CorruptReplicasMap: corrupt replicas
    // (marked from the N5 sweep's stored-replica toInvalidate decisions)
    // are excluded from the located list while a good replica remains;
    // an all-corrupt block serves every replica, flagged blockCorrupt
    GateEntry("n1_corrupt_exclusion", { (s, dir) =>
      DerivedState.register(s, dir)
      val marks = Replication.corruptMarks(
        Dataflows.reconcileReports(s.table("block"), s.table("reported")))
      Dataflows.replicasByDistance(
          s.table("block").filter(col("fileId") % 100 === 0L),
          s.table("datanode"), "/rack2", 7L, marks)
        .orderBy(col("id"))
    }, O(
      // corrupt marks = the N5 sweep's stored-replica toInvalidate rows;
      // exclusion per FSNamesystem.java:666-701 — corrupt replicas drop
      // from the machine set while a good one remains, an all-corrupt
      // block serves everything and flags blockCorrupt
      s"""$N5ClassifySql,
        |cx_marks AS (
        |  SELECT DISTINCT blockId, datanodeId FROM classified
        |  WHERE action = 'toInvalidate' AND storedGenStamp IS NOT NULL),
        |cx_r AS (
        |  SELECT b.id, b.fileId, b.datanodeId,
        |    CASE WHEN b.datanodeId = 7 THEN 0
        |         WHEN d.location = '/rack2' THEN 2
        |         ELSE 4 END AS distance,
        |    m.blockId IS NOT NULL AS corrupt
        |  FROM block b
        |  LEFT JOIN datanode d ON b.datanodeId = d.id AND d.version > 0
        |  LEFT JOIN cx_marks m ON b.id = m.blockId AND b.datanodeId = m.datanodeId
        |  WHERE b.version > 0 AND b.fileId % 100 = 0),
        |cx_g AS (
        |  SELECT id, COUNT(CASE WHEN NOT corrupt THEN 1 END) AS goodc
        |  FROM cx_r GROUP BY id)
        |SELECT r.id, ANY_VALUE(r.fileId) AS fileId,
        |  STRING_AGG(CAST(r.datanodeId AS STRING), ','
        |             ORDER BY r.distance, r.datanodeId)
        |    FILTER (WHERE g.goodc = 0 OR NOT r.corrupt) AS orderedReplicas,
        |  MIN(r.distance) FILTER (WHERE g.goodc = 0 OR NOT r.corrupt)
        |    AS nearestDistance,
        |  ANY_VALUE(g.goodc = 0) AS blockCorrupt
        |FROM cx_r r JOIN cx_g g ON r.id = g.id
        |GROUP BY r.id ORDER BY r.id""".stripMargin)),
  )

  private val O = DerivedState.oracle _

  /** Per-dir quota rows for n15_quota — the SAME SQL text runs in Spark
    * and DuckDB (quotas are an INodeDirectoryWithQuota-side concept, not
    * an ADFS table, so they're synthesized here, not in DerivedState). */
  private val QuotaRowsSql: String =
    """SELECT CAST(i AS BIGINT) AS dirId,
      |       CASE WHEN i % 2 = 0 THEN CAST(40 + i AS BIGINT)
      |            ELSE CAST(-1 AS BIGINT) END AS nsQuota,
      |       CASE WHEN i % 3 = 0 THEN CAST(400000 * i AS BIGINT)
      |            ELSE CAST(-1 AS BIGINT) END AS dsQuota
      |FROM range(1, 27) AS t(i)""".stripMargin

  /** N5 per-row classification CTE chain — the single home of the
    * CASE ladder, shared by the batch query, its streamed twin and the
    * orphan post-pass (ends with the `classified` CTE). */
  private val N5ClassifySql: String =
    """WITH stored AS (
      |  SELECT id AS blockId, datanodeId, length AS storedLength,
      |         generationStamp AS storedGenStamp
      |  FROM block WHERE version > 0),
      |freshest AS (
      |  SELECT id AS bid, MAX(generationStamp) AS maxGenStamp,
      |         ARG_MAX(length, CAST(generationStamp AS HUGEINT)
      |                 * 9223372036854775808 + version) AS freshestLength
      |  FROM block WHERE version > 0 GROUP BY id),
      |joined AS (
      |  SELECT COALESCE(r.datanodeId, s.datanodeId) AS datanodeId,
      |         COALESCE(r.blockId, s.blockId) AS blockId,
      |         r.repLength, r.repGenStamp, s.storedLength, s.storedGenStamp
      |  FROM reported r FULL OUTER JOIN stored s
      |    ON r.datanodeId = s.datanodeId AND r.blockId = s.blockId),
      |classified AS (
      |  SELECT joined.datanodeId, joined.blockId, joined.storedGenStamp,
      |    CASE WHEN repGenStamp IS NULL THEN 'toRemove'
      |         WHEN repGenStamp < COALESCE(f.maxGenStamp, repGenStamp) THEN 'toInvalidate'
      |         WHEN repGenStamp = f.maxGenStamp
      |              AND repLength < f.freshestLength THEN 'toInvalidate'
      |         WHEN storedGenStamp IS NULL THEN 'toAdd'
      |         WHEN storedGenStamp < repGenStamp
      |              OR (storedLength <> repLength AND storedLength <> -1) THEN 'toAdd'
      |         ELSE 'ok' END AS action
      |  FROM joined LEFT JOIN freshest f ON joined.blockId = f.bid)""".stripMargin

  /** N5 classification — shared by the batch query and its streamed twin. */
  private val N5OracleSql: String =
    s"""$N5ClassifySql
      |SELECT datanodeId, action, COUNT(*) AS n FROM classified
      |GROUP BY 1, 2 ORDER BY datanodeId, action""".stripMargin

  /** Balancer oracle threshold (percent): 0.08 spreads the synthetic
    * datanode table across all four utilization classes. */
  val BalancerThreshold: Double = 0.08

  /** N6 pick oracle CTEs (shared by n6_under_replicated and n10_tick):
    * live-NORMAL replica counts → priority scoring → the recursive
    * `alloc` replay of Dataflows.roundRobinTakes (budget 100), sweep by
    * sweep — base = ceil(r/3) per level, unused quota spills to the next
    * level, leftover budget wraps into the next sweep. Ends with
    * `picked`/`takes`; [[N6PickSelect]] is the matching final select. */
  private val N6PickCtes: String =
    """livenodes AS (
      |  SELECT id FROM datanode WHERE version > 0 AND adminState = 'NORMAL'
      |    AND lastUpdated >= 1700000000000 - 600000),
      |cnt AS (
      |  SELECT b.id AS blockId, b.fileId, COUNT(*) AS liveReplicaCount
      |  FROM block b JOIN livenodes n ON b.datanodeId = n.id
      |  WHERE b.version > 0 GROUP BY b.id, b.fileId),
      |scored AS (
      |  SELECT c.blockId, c.fileId, c.liveReplicaCount,
      |         f.replication AS expectedReplication,
      |         CASE WHEN c.liveReplicaCount <= 1 THEN 0
      |              WHEN c.liveReplicaCount * 3 < f.replication THEN 1
      |              ELSE 2 END AS priority
      |  FROM cnt c JOIN file f ON c.fileId = f.id AND f.version > 0 AND f.length <> -1
      |  WHERE c.liveReplicaCount < f.replication),
      |demand AS (
      |  SELECT CAST(COALESCE(SUM(CASE WHEN priority = 0 THEN 1 END), 0) AS BIGINT) AS d0,
      |         CAST(COALESCE(SUM(CASE WHEN priority = 1 THEN 1 END), 0) AS BIGINT) AS d1,
      |         CAST(COALESCE(SUM(CASE WHEN priority = 2 THEN 1 END), 0) AS BIGINT) AS d2
      |  FROM scored),
      |alloc AS (
      |  SELECT LEAST(CAST(100 AS BIGINT), d0 + d1 + d2) AS r,
      |         CAST(0 AS BIGINT) AS t0, CAST(0 AS BIGINT) AS t1,
      |         CAST(0 AS BIGINT) AS t2, CAST(1 AS BIGINT) AS moved
      |  FROM demand
      |  UNION ALL
      |  SELECT rem2 - a2, t0 + a0, t1 + a1, t2 + a2, a0 + a1 + a2
      |  FROM (
      |    SELECT *, LEAST(base + (q1 - a1), rem2, d2 - t2) AS a2 FROM (
      |      SELECT *, rem1 - a1 AS rem2 FROM (
      |        SELECT *, LEAST(q1, d1 - t1) AS a1 FROM (
      |          SELECT *, LEAST(base + (q0 - a0), rem1) AS q1 FROM (
      |            SELECT *, r - a0 AS rem1 FROM (
      |              SELECT *, LEAST(q0, d0 - t0) AS a0 FROM (
      |                SELECT a.r, a.t0, a.t1, a.t2, d.d0, d.d1, d.d2,
      |                       (a.r + 2) // 3 AS base,
      |                       LEAST((a.r + 2) // 3, a.r) AS q0
      |                FROM alloc a, demand d
      |                WHERE a.r > 0 AND a.moved > 0)))))))),
      |takes AS (
      |  SELECT MAX(t0) AS t0, MAX(t1) AS t1, MAX(t2) AS t2 FROM alloc),
      |picked AS (
      |  SELECT s.*, ROW_NUMBER() OVER (PARTITION BY priority ORDER BY blockId) AS rn
      |  FROM scored s)""".stripMargin

  private val N6PickSelect: String =
    """SELECT p.blockId, p.fileId, p.liveReplicaCount, p.expectedReplication, p.priority
      |FROM picked p, takes t
      |WHERE p.rn <= CASE p.priority WHEN 0 THEN t.t0 WHEN 1 THEN t.t1 ELSE t.t2 END""".stripMargin

  /** N10 pending-table fixtures — ONE dialect-shared text per frame, run
    * verbatim by Spark (s.sql) and spliced into the DuckDB oracles, so
    * the two engines derive the identical lifecycle inputs. The seed
    * staggers (inFlight, since) by block-id group: ~1/3 of entries are
    * past the 5-minute timeout at NOW, receipts fully drain single-target
    * entries, and the schedule overlaps the seed at id % 90 = 0 (the
    * increment-and-reset-timestamp branch). */
  private val PendingSeedSql: String =
    """SELECT id AS blockId,
      |       CAST(1 + CAST(FLOOR(id / 30.0) AS BIGINT) % 3 AS BIGINT) AS inFlight,
      |       CAST(1700000000000 - (CAST(FLOOR(id / 30.0) AS BIGINT) % 9) * 60000 AS BIGINT) AS since
      |FROM (SELECT DISTINCT id FROM block WHERE version > 0 AND id % 30 = 0) t""".stripMargin

  /** Denser pending fixture for n10_tick: the N6 pick takes the SMALLEST
    * under-replicated blockIds per level, so a sparse (id % 30) seed can
    * miss the pick entirely and leave the discount vacuous — id % 3
    * guarantees ~1/3 of picked blocks carry in-flight work, and the 1-2
    * in-flight counts fully discount some picks (the needed <= 0 drop
    * branch fires too). */
  private val PendingTickSql: String =
    """SELECT id AS blockId,
      |       CAST(1 + CAST(FLOOR(id / 3.0) AS BIGINT) % 2 AS BIGINT) AS inFlight,
      |       CAST(1700000000000 - 60000 AS BIGINT) AS since
      |FROM (SELECT DISTINCT id FROM block WHERE version > 0 AND id % 3 = 0) t""".stripMargin

  private val PendingScheduledSql: String =
    """SELECT id AS blockId, CAST(1 + id % 2 AS BIGINT) AS numTargets
      |FROM (SELECT DISTINCT id FROM block WHERE version > 0 AND id % 45 = 0) t""".stripMargin

  private val PendingReceivedSql: String =
    """SELECT id AS blockId
      |FROM (SELECT DISTINCT id FROM block WHERE version > 0 AND id % 60 = 0) t""".stripMargin

  /** N9 fixtures: a per-datanode work queue (replicate/invalidate mix)
    * and a heartbeat batch covering half the nodes with varying
    * xmitsInProgress, so every cap branch fires — repl cap 2/1/0, the
    * invalidate limit, and the no-heartbeat drop. */
  /** N7 node universe (both dialects): the derived cluster with the
    * high tier OFF rack0 marked busy (+100 xceivers) — so the load
    * check genuinely rejects, and the big-block requests' surviving
    * candidates concentrate on rack0, arming the per-rack quota. */
  private val N7NodesSql: String =
    """SELECT id, location, remaining, lastUpdated, adminState, version,
      |       xceiverCount + CASE WHEN id >= 31 AND id % 5 <> 0
      |                           THEN CAST(100 AS BIGINT) ELSE CAST(0 AS BIGINT) END
      |         AS xceiverCount
      |FROM datanode""".stripMargin

  /** N7 request fixture (both dialects), three arms by o_orderkey%3:
    * 0 = 64 MB blocks, any writer rack — the plain ladder (local rack →
    * remote rack → same-rack-of-second); 1 = a space SWEEP, 2·blockSize
    * stepping across the cluster's remaining-bytes distribution, so the
    * space check rejects differentially (the largest steps leave NO
    * candidate — the reference's cannot-place outcome); 2 = 513 GB
    * blocks from a rack0 writer — the only good candidates left are the
    * three quiet rack0 nodes (30/35/40), so slot 2 falls back to the
    * writer's rack and slot 3 is rejected by the per-rack quota WITH a
    * good candidate still available (the branch the gate exists for). */
  private val N7ReqSql: String =
    """SELECT CAST(o_orderkey AS BIGINT) AS reqId,
      |  CASE WHEN o_orderkey % 3 = 2 THEN '/rack0'
      |       ELSE '/rack' || CAST(o_custkey % 5 AS STRING) END AS writerRack,
      |  CASE WHEN o_orderkey % 3 = 0 THEN CAST(67108864 AS BIGINT)
      |       WHEN o_orderkey % 3 = 1
      |         THEN CAST(500000000000 + (o_orderkey % 39) * 500000000 AS BIGINT)
      |       ELSE CAST(513000000000 AS BIGINT) END AS blockSize
      |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin

  private val N9WorkQueueSql: String =
    """SELECT CAST(1 + id % 40 AS BIGINT) AS datanodeId, id AS blockId,
      |       CASE WHEN id % 3 = 0 THEN 'replicate' ELSE 'invalidate' END AS command
      |FROM (SELECT DISTINCT id FROM block WHERE version > 0 AND id % 7 = 0) t""".stripMargin

  private val N9BeatingSql: String =
    """SELECT CAST(i AS BIGINT) AS datanodeId,
      |       CAST(i % 4 AS BIGINT) AS xmitsInProgress
      |FROM range(1, 21) AS t(i)""".stripMargin

  /** getBlocks request fixture: five nodes, staggered size budgets and
    * cursor positions (wrap-around exercised by start indexes deep into
    * each node's list). */
  private val GetBlocksReqSql: String =
    """SELECT CAST(i * 3 - 1 AS BIGINT) AS datanodeId,
      |       CAST(3000000 + i * 1000000 AS BIGINT) AS size,
      |       CAST(i * 7 AS BIGINT) AS startIdx
      |FROM range(1, 6) AS t(i)""".stripMargin

  /** blockReceived ops fixture: datanode 3's report rows (covering the
    * reported table's full perturbation matrix — stale genstamps, grown
    * and shortened lengths, so corrupt/update/ignore all fire), each
    * carrying a delHint pointing at the block's LARGEST holder — a real
    * co-holder, so the hint-honored branch fires and is distinguishable
    * from the least-space standard pick (which favors small node ids on
    * the synthetic cluster); when that holder is node 3 itself the
    * hint-equals-addedNode null-out fires;
    * datanode 4's rows re-keyed to node 9, which holds almost none of
    * them (the `add` branch, and extra over-replication); plus one
    * receipt for a block that does not exist (rejectAddStoredBlock).
    * Blocks of tombstoned files hit the no-file reject branch naturally. */
  /** blockReceived op batch, dialect-shared: node 3's own reports (with
    * a max-other-holder delHint), node 9 (storeless) replaying node 4's
    * reports, one unknown-block reject, node 8 replaying a STALE
    * (genstamp − 1) copy of every third node-3 block — a STORELESS
    * corrupt reporter co-batched with node 3's receipt of the SAME
    * block — and node 10 (a REAL co-holder of node-3 blocks; the
    * synthetic replica layout co-locates 3 with 10/17/29/36) replaying
    * its own stored rows verbatim: valid `ignore` receipts whose
    * liveAfter must NOT count node 3's stored replica when node 3's
    * co-batched receipt classified corrupt — the stored-corrupt-
    * reporter exclusion (markBlockAsCorrupt → countNodes skip),
    * exercised non-vacuously. */
  private[graft] val BlockReceivedOpsSql: String =
    blockReceivedOpsSqlFrom("reported", "block")

  /** [[BlockReceivedOpsSql]] parameterized over its source relations —
    * same text, different FROMs. n_block_received pins the block
    * derivation once per evaluation and re-points the receipt script at
    * the pin with this; `blockReceivedOpsSqlFrom("reported", "block")`
    * is byte-identical to the default, so the two can never drift. */
  private[graft] def blockReceivedOpsSqlFrom(reported: String,
                                             block: String): String =
    s"""SELECT r.datanodeId, r.blockId, r.repLength, r.repGenStamp,
      |       h.minOther AS delHint
      |FROM $reported r
      |LEFT JOIN (SELECT id AS hid, MAX(datanodeId) AS minOther
      |           FROM $block WHERE version > 0 GROUP BY id) h
      |  ON r.blockId = h.hid
      |WHERE r.datanodeId = 3
      |UNION ALL
      |SELECT CAST(9 AS BIGINT), blockId, repLength, repGenStamp,
      |       CAST(NULL AS BIGINT)
      |FROM $reported WHERE datanodeId = 4
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), CAST(999 AS BIGINT), CAST(100 AS BIGINT),
      |       CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
      |UNION ALL
      |SELECT CAST(8 AS BIGINT), blockId, repLength, repGenStamp - 1,
      |       CAST(NULL AS BIGINT)
      |FROM $reported WHERE datanodeId = 3 AND blockId % 3 = 0
      |UNION ALL
      |SELECT CAST(10 AS BIGINT), b.id, b.length, b.generationStamp,
      |       CAST(NULL AS BIGINT)
      |FROM $block b
      |WHERE b.version > 0 AND b.datanodeId = 10 AND b.id % 5 = 2
      |  AND b.id IN (SELECT id FROM $block WHERE version > 0 AND datanodeId = 3)""".stripMargin

  /** fsck fixtures: ONE dialect-shared datanode projection that marks
    * every %4=1 node dead (lastUpdated 0), run verbatim by the Spark
    * queries and spliced into the DuckDB oracles — blocks held only by
    * those nodes become MISSING, firing every finding class. */
  private[graft] val FsckDeadNodesSql: String =
    """SELECT id, location,
      |       CASE WHEN id % 4 = 1 THEN CAST(0 AS BIGINT)
      |            ELSE lastUpdated END AS lastUpdated,
      |       version
      |FROM datanode""".stripMargin

  /** fsck -move id base for created lost+found rows — above every live
    * file id at any tested SF (ids are path-ranked from here). */
  private val FsckMoveIdBase: Long = 8000000L

  /** Shared fsck oracle CTE chain: dead-node projection → live nodes →
    * per-block liveness/racks/argmax-length → per-CLOSED-file finding
    * counts (DuckDB twin of Dataflows.fsckFiles). Callers append their
    * own CTEs; `fk_path` is the recursive path builder every fsck oracle
    * needs (files for output paths, move for the mirror chain). */
  private val FsckCommonCtes: String =
    s"""fk_dnx AS ($FsckDeadNodesSql),
      |fk_live AS MATERIALIZED (
      |  SELECT id, location FROM fk_dnx
      |  WHERE version > 0 AND lastUpdated >= $Now - 600000),
      |fk_nrk AS (SELECT COUNT(DISTINCT location) AS clusterRacks FROM fk_live),
      |fk_pb AS MATERIALIZED (
      |  SELECT b.id AS blockId, b.fileId,
      |    COUNT(n.id) AS liveReplicas,
      |    COUNT(DISTINCT n.location) AS numRacks,
      |    MAX(GREATEST(b.length, 0)) AS blockLen
      |  FROM block b LEFT JOIN fk_live n ON b.datanodeId = n.id
      |  WHERE b.version > 0
      |  GROUP BY b.id, b.fileId),
      |fk_fl AS (
      |  SELECT id, replication, length FROM file
      |  WHERE version > 0 AND length <> -1 AND leaseHolder IS NULL),
      |fk_pf AS (
      |  SELECT f.id AS fileId, f.replication, f.length AS fileSize,
      |    COUNT(*) AS nBlocks,
      |    CAST(SUM(CASE WHEN p.liveReplicas = 0 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS missingBlocks,
      |    CAST(SUM(CASE WHEN p.liveReplicas = 0 THEN p.blockLen
      |             ELSE 0 END) AS BIGINT) AS missingSize,
      |    CAST(SUM(CASE WHEN p.liveReplicas > 0
      |              AND p.liveReplicas < f.replication THEN 1 ELSE 0 END)
      |         AS BIGINT) AS underBlocks,
      |    CAST(SUM(CASE WHEN p.liveReplicas > f.replication THEN 1 ELSE 0 END)
      |         AS BIGINT) AS overBlocks,
      |    CAST(SUM(CASE WHEN r.clusterRacks > 1 AND p.numRacks <
      |              LEAST(2, f.replication, r.clusterRacks) THEN 1 ELSE 0 END)
      |         AS BIGINT) AS misReplicatedBlocks
      |  FROM fk_fl f JOIN fk_pb p ON p.fileId = f.id CROSS JOIN fk_nrk r
      |  GROUP BY f.id, f.replication, f.length),
      |fk_bad AS MATERIALIZED (
      |  SELECT * FROM fk_pf
      |  WHERE missingBlocks > 0 OR underBlocks > 0 OR overBlocks > 0
      |     OR misReplicatedBlocks > 0),
      |fk_path AS MATERIALIZED (
      |  SELECT id, parentId, name, length, version, '' AS path
      |  FROM file WHERE id = 0 AND version > 0
      |  UNION ALL
      |  SELECT f.id, f.parentId, f.name, f.length, f.version,
      |         pp.path || '/' || f.name
      |  FROM file f JOIN fk_path pp ON f.parentId = pp.id
      |  WHERE f.version > 0 AND f.id <> 0)""".stripMargin

  /** DuckDB twin of Balancer.classifyFull — expression-for-expression the
    * reference arithmetic (Balancer.java:489-523,986-1013) in the same
    * IEEE op order as the Spark side, with trunc() matching Java/Spark
    * toward-zero long casts (DuckDB CAST rounds, so trunc is explicit). */
  private val BalancerClsCtes: String =
    s"""bl_live AS (
      |  SELECT id, location, capacity, dfsUsed, remaining FROM datanode
      |  WHERE version > 0 AND lastUpdated >= $Now - 600000
      |    AND adminState = 'NORMAL' AND capacity > 0),
      |bl_avg AS (
      |  SELECT CAST(SUM(dfsUsed) AS DOUBLE) / SUM(capacity) * 100.0 AS avgU
      |  FROM bl_live),
      |bl_u AS (
      |  SELECT id, location, capacity, remaining,
      |    dfsUsed * 100.0 / capacity AS u, avgU
      |  FROM bl_live, bl_avg),
      |bl_cls AS (
      |  SELECT id, location, capacity, remaining, u, avgU,
      |    CASE WHEN u > avgU THEN
      |           CASE WHEN u > avgU + $BalancerThreshold THEN 'overUtilized'
      |                ELSE 'aboveAvgUtilized' END
      |         ELSE CASE WHEN u >= avgU - $BalancerThreshold AND u < avgU
      |                   THEN 'belowAvgUtilized' ELSE 'underUtilized' END
      |    END AS nodeClass,
      |    LEAST(10737418240,
      |      CASE WHEN u < avgU THEN LEAST(remaining, m0) ELSE m0 END) AS maxSizeToMove
      |  FROM (SELECT *,
      |          CASE WHEN u >= avgU + $BalancerThreshold OR u <= avgU - $BalancerThreshold
      |               THEN CAST(trunc($BalancerThreshold * capacity / 100.0) AS BIGINT)
      |               ELSE CAST(trunc(abs(avgU - u) * capacity / 100.0) AS BIGINT)
      |          END AS m0
      |        FROM bl_u))""".stripMargin

  /** DuckDB twin of Balancer.pairs: the six capacity-packing passes in
    * chooseNodes order, each consuming the availability the previous
    * passes left (generated — the passes differ only in class pair and
    * rack scope). */
  private val BalancerPassCtes: String = {
    val passes = Seq(
      ("overUtilized", "underUtilized", true),
      ("overUtilized", "belowAvgUtilized", true),
      ("aboveAvgUtilized", "underUtilized", true),
      ("overUtilized", "underUtilized", false),
      ("overUtilized", "belowAvgUtilized", false),
      ("aboveAvgUtilized", "underUtilized", false))
    val cur = scala.collection.mutable.Map(
      "overUtilized" -> "bl_av_over0", "aboveAvgUtilized" -> "bl_av_above0",
      "underUtilized" -> "bl_av_under0", "belowAvgUtilized" -> "bl_av_below0")
    val sb = new StringBuilder
    sb ++= """bl_av_over0 AS (SELECT id, location, maxSizeToMove AS avail
      |  FROM bl_cls WHERE nodeClass = 'overUtilized'),
      |bl_av_above0 AS (SELECT id, location, maxSizeToMove AS avail
      |  FROM bl_cls WHERE nodeClass = 'aboveAvgUtilized'),
      |bl_av_under0 AS (SELECT id, location, maxSizeToMove AS avail
      |  FROM bl_cls WHERE nodeClass = 'underUtilized'),
      |bl_av_below0 AS (SELECT id, location, maxSizeToMove AS avail
      |  FROM bl_cls WHERE nodeClass = 'belowAvgUtilized'),
      |""".stripMargin
    passes.zipWithIndex.foreach { case ((sk, tk, sameRack), idx) =>
      val i = idx + 1
      val part = if (sameRack) "PARTITION BY location " else ""
      val rackJoin = if (sameRack) "s.location = t.location AND " else ""
      sb ++=
        s"""bl_s$i AS (
          |  SELECT id, location, avail, SUM(avail) OVER ($part ORDER BY id) AS e
          |  FROM ${cur(sk)} WHERE avail > 0),
          |bl_t$i AS (
          |  SELECT id, location, avail, SUM(avail) OVER ($part ORDER BY id) AS e
          |  FROM ${cur(tk)} WHERE avail > 0),
          |bl_p$i AS (
          |  SELECT CAST($i AS BIGINT) AS pass, s.id AS sourceId, t.id AS targetId,
          |    CAST(LEAST(s.e, t.e) - GREATEST(s.e - s.avail, t.e - t.avail) AS BIGINT) AS moveSize
          |  FROM bl_s$i s JOIN bl_t$i t
          |    ON ${rackJoin}s.e - s.avail < t.e AND t.e - t.avail < s.e
          |  WHERE LEAST(s.e, t.e) - GREATEST(s.e - s.avail, t.e - t.avail) > 0),
          |""".stripMargin
      Seq((sk, "sourceId"), (tk, "targetId")).foreach { case (k, idCol) =>
        val nxt = s"bl_av_${k.stripSuffix("Utilized").toLowerCase}$i"
        sb ++=
          s"""$nxt AS (
            |  SELECT a.id, a.location,
            |    a.avail - COALESCE((SELECT SUM(moveSize) FROM bl_p$i
            |                        WHERE $idCol = a.id), 0) AS avail
            |  FROM ${cur(k)} a),
            |""".stripMargin
        cur(k) = nxt
      }
    }
    sb ++= (1 to 6).map(i => s"SELECT * FROM bl_p$i")
      .mkString("bl_pairs AS (\n  ", "\n  UNION ALL ", ")")
    sb.toString
  }
}
