package graft.queries

import org.apache.spark.sql.functions._

import graft.GateEntry
import graft.model.DerivedState
import graft.state.Mutations
import graft.store.StateStore

/** Gate entries ([[graft.GateEntry]]) for the write-path operators:
  * every operation's WRITE-SET is computed as a query so the DuckDB
  * oracle can replay the same validations and version assignment. */
object MutationQueries {

  private val Now = DerivedState.NowMs

  /** n_block_sync's new-row version base — DERIVED from the augmented
    * block table (next 10M boundary above its max live version, see
    * Mutations.blockSyncVersionBase) so a scale-factor bump can never
    * trip commitBlockSync's versionBase guard. The oracle computes the
    * identical integer arithmetic in its vbase CTE. */
  private val BlockSyncVersionBaseSql: String =
    "(SELECT (MAX(version) // 10000000 + 1) * 10000000 FROM liveB)"

  /** n_block_sync's synthetic NULL_DATANODE flag rows (gs 90 sentinel,
    * one per %7 block of a %50 UC file) — ONE dialect-shared text run
    * verbatim by the Spark gate and spliced into the oracle CTE. */
  private val BlockSyncFlagRowsSql: String =
    """SELECT id, CAST(0 AS BIGINT) AS datanodeId,
      |       CAST(-1 AS BIGINT) AS length,
      |       CAST(90 AS BIGINT) AS generationStamp,
      |       MAX(fileId) AS fileId, MAX(fileIndex) AS fileIndex,
      |       id AS version
      |FROM block WHERE version > 0 AND fileId % 50 = 0 AND id % 7 = 0
      |GROUP BY id""".stripMargin

  /** DuckDB twin of Mutations.primaryEntries — the per-(fileId,
    * fileIndex) BlockEntry primary by (generationStamp, version)
    * (HUGEINT-packed tuple order); the two must stay identical. */
  private def primaryEntriesSql(src: String): String =
    s"""SELECT fileId, fileIndex,
       |    ARG_MAX(id, CAST(generationStamp AS HUGEINT) * 9223372036854775808
       |            + version) AS blockId,
       |    ARG_MAX(length, CAST(generationStamp AS HUGEINT) * 9223372036854775808
       |            + version) AS primLen
       |  FROM $src GROUP BY fileId, fileIndex""".stripMargin

  def entries: Seq[GateEntry] = Seq(
    // S5/R11: batch mkdir of one new child under every nation dir +
    // parent mtime touches; deterministic ids by (parentId, name) rank
    GateEntry("s5_mkdirs", { (s, dir) =>
      DerivedState.register(s, dir)
      val reqs = s.sql(
        """SELECT CAST(1 + n_nationkey AS BIGINT) AS parentId,
          |       'newdir_' || CAST(n_nationkey AS STRING) AS name
          |FROM nation""".stripMargin)
      Mutations.mkdirs(s.table("file"), reqs, idBase = 5000000L, nowMs = Now)
        .select(col("writeOp"), col("id"), col("parentId"), col("name"),
          col("length"), col("mtime"), col("version"))
        .orderBy(col("writeOp"), col("id"))
    }, O(
      """WITH reqs AS (
        |  SELECT CAST(1 + n_nationkey AS BIGINT) AS parentId,
        |         'newdir_' || CAST(n_nationkey AS STRING) AS name
        |  FROM nation),
        |ok AS (
        |  SELECT r.* FROM reqs r
        |  JOIN file p ON p.id = r.parentId AND p.version > 0 AND p.length = -1
        |  LEFT JOIN file t ON t.parentId = r.parentId AND t.name = r.name AND t.version > 0
        |  WHERE t.id IS NULL AND length(r.name) > 0 AND length(r.name) <= 255),
        |newrows AS (
        |  SELECT 5000000 + ROW_NUMBER() OVER (ORDER BY parentId, name) AS id,
        |         parentId, name FROM ok)
        |SELECT 'insert' AS writeOp, id, parentId, name,
        |       CAST(-1 AS BIGINT) AS length, CAST(1700000000000 AS BIGINT) AS mtime,
        |       id AS version
        |FROM newrows
        |UNION ALL
        |SELECT 'touch', f.id, f.parentId, f.name, f.length,
        |       CAST(1700000000000 AS BIGINT), f.version
        |FROM file f WHERE f.version > 0
        |  AND f.id IN (SELECT DISTINCT parentId FROM newrows)
        |ORDER BY writeOp, id""".stripMargin)),
    // R11: validation outcomes for a mixed batch (ok / collision /
    // missing parent / parent-not-dir / empty name)
    GateEntry("r11_insert_validate", { (s, dir) =>
      DerivedState.register(s, dir)
      val cand = s.sql(
        """SELECT CAST(1 + n_nationkey AS BIGINT) AS parentId,
          |       'n_ok_' || CAST(n_nationkey AS STRING) AS name FROM nation
          |UNION ALL
          |SELECT CAST(0 AS BIGINT), 'n_' || CAST(n_nationkey AS STRING) FROM nation
          |UNION ALL
          |SELECT CAST(99999999 AS BIGINT), 'orphan' || CAST(n_nationkey AS STRING) FROM nation
          |UNION ALL
          |SELECT CAST(1000000 + o_orderkey AS BIGINT), 'under_file'
          |FROM orders WHERE o_orderkey % 5000 = 0
          |UNION ALL
          |SELECT CAST(1 AS BIGINT), ''""".stripMargin)
      Mutations.validateInserts(s.table("file"), cand)
        .select(col("parentId"), col("name"), col("reject"))
        .orderBy(col("parentId"), col("name"))
    }, O(
      """WITH cand AS (
        |  SELECT CAST(1 + n_nationkey AS BIGINT) AS parentId,
        |         'n_ok_' || CAST(n_nationkey AS STRING) AS name FROM nation
        |  UNION ALL
        |  SELECT CAST(0 AS BIGINT), 'n_' || CAST(n_nationkey AS STRING) FROM nation
        |  UNION ALL
        |  SELECT CAST(99999999 AS BIGINT), 'orphan' || CAST(n_nationkey AS STRING) FROM nation
        |  UNION ALL
        |  SELECT CAST(1000000 + o_orderkey AS BIGINT), 'under_file'
        |  FROM orders WHERE o_orderkey % 5000 = 0
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), '')
        |SELECT c.parentId, c.name,
        |  CASE WHEN c.name IS NULL OR length(c.name) = 0 THEN 'empty name'
        |       WHEN length(c.name) > 255 THEN 'name too long'
        |       WHEN p.id IS NULL THEN 'parent not found'
        |       WHEN p.length <> -1 THEN 'parent not a directory'
        |       WHEN t.id IS NOT NULL THEN 'name exists'
        |       END AS reject
        |FROM cand c
        |LEFT JOIN file p ON p.id = c.parentId AND p.version > 0
        |LEFT JOIN file t ON t.parentId = c.parentId AND t.name = c.name AND t.version > 0
        |ORDER BY c.parentId, c.name""".stripMargin)),
    // R12/N12: move every customer dir of nation 3 under nation 4;
    // write-set = moved rows + both parents' mtime touches
    GateEntry("n12_rename", { (s, dir) =>
      DerivedState.register(s, dir)
      val renames = s.sql(
        """SELECT CAST(100 + c_custkey AS BIGINT) AS id,
          |       CAST(5 AS BIGINT) AS newParentId,
          |       'moved_' || CAST(c_custkey AS STRING) AS newName
          |FROM customer WHERE c_nationkey = 3""".stripMargin)
      Mutations.rename(s.table("file"), renames, nowMs = Now)
        .select(col("writeOp"), col("id"), col("parentId"), col("name"),
          col("mtime"), col("version"))
        .orderBy(col("writeOp"), col("id"))
    }, O(
      """WITH renames AS (
        |  SELECT CAST(100 + c_custkey AS BIGINT) AS id,
        |         CAST(5 AS BIGINT) AS newParentId,
        |         'moved_' || CAST(c_custkey AS STRING) AS newName,
        |         CAST(1 + c_nationkey AS BIGINT) AS oldParent
        |  FROM customer WHERE c_nationkey = 3),
        |ok AS (
        |  SELECT r.* FROM renames r
        |  JOIN file cur ON cur.id = r.id AND cur.version > 0
        |  JOIN file p ON p.id = r.newParentId AND p.version > 0 AND p.length = -1
        |  LEFT JOIN file t ON t.parentId = r.newParentId AND t.name = r.newName AND t.version > 0
        |  WHERE t.id IS NULL AND r.id <> 0 AND r.newParentId <> r.id),
        |moved AS (
        |  SELECT f.id, o.newParentId AS parentId, o.newName AS name,
        |         CAST(1700000000000 AS BIGINT) AS mtime,
        |         f.version + 1000000000 AS version, o.oldParent
        |  FROM file f JOIN ok o ON f.id = o.id AND f.version > 0),
        |parents AS (
        |  SELECT DISTINCT oldParent AS p FROM moved
        |  UNION SELECT DISTINCT parentId FROM moved)
        |SELECT 'move' AS writeOp, id, parentId, name, mtime, version FROM moved
        |UNION ALL
        |SELECT 'touch', f.id, f.parentId, f.name,
        |       CAST(1700000000000 AS BIGINT), f.version
        |FROM file f WHERE f.version > 0 AND f.id IN (SELECT p FROM parents)
        |ORDER BY writeOp, id""".stripMargin)),
    // R13: guarded delete of every customer dir of nation 7 — customers
    // WITH orders are refused (non-empty), childless ones tombstone
    GateEntry("r13_guarded_delete", { (s, dir) =>
      DerivedState.register(s, dir)
      val ids = s.sql(
        """SELECT CAST(100 + c_custkey AS BIGINT) AS id
          |FROM customer WHERE c_nationkey = 7""".stripMargin)
      Mutations.guardedDelete(s.table("file"), ids)
        .orderBy(col("id"))
    }, O(
      """WITH ids AS (
        |  SELECT CAST(100 + c_custkey AS BIGINT) AS id
        |  FROM customer WHERE c_nationkey = 7),
        |cc AS (
        |  SELECT parentId AS cp, COUNT(*) AS children FROM file
        |  WHERE version > 0 GROUP BY parentId)
        |SELECT f.id, f.parentId, f.name,
        |  CASE WHEN f.id = 0 THEN f.version
        |       WHEN f.length = -1 AND COALESCE(cc.children, 0) > 0 THEN f.version
        |       ELSE 0 - f.version END AS version,
        |  CASE WHEN f.id = 0 THEN 'cannot delete root'
        |       WHEN f.length = -1 AND COALESCE(cc.children, 0) > 0 THEN 'directory not empty'
        |       END AS reject
        |FROM file f
        |JOIN ids ON f.id = ids.id
        |LEFT JOIN cc ON cc.cp = f.id
        |WHERE f.version > 0
        |ORDER BY f.id""".stripMargin)),
    // N13: setReplication on big files (P8 SET + version bump), write-set
    GateEntry("n13_set_replication", { (s, dir) =>
      DerivedState.register(s, dir)
      val out = Mutations.setAttrs(s.table("file"),
        col("length") > 400000L && col("version") > 0,
        Map("replication" -> StateStore.Assign(3L)), nowMs = Now)
      out.filter(col("length") > 400000L && col("version") > 0)
        .select(col("id"), col("replication"), col("version"))
        .orderBy(col("id"))
    }, O(
      """SELECT id, CAST(3 AS BIGINT) AS replication,
        |       version + 1000000000 AS version
        |FROM file WHERE length > 400000 AND version > 0
        |ORDER BY id""".stripMargin)),
    // N4: which under-construction files can complete (all blocks have a
    // finished replica)
    GateEntry("n4_complete_check", { (s, dir) =>
      DerivedState.register(s, dir)
      Mutations.completeFileCheck(s.table("file"), s.table("block"))
        .orderBy(col("fileId"))
    }, O(
      """WITH uc AS (
        |  SELECT id AS fileId, leaseHolder FROM file
        |  WHERE version > 0 AND leaseHolder IS NOT NULL),
        |pb AS (
        |  SELECT b.fileId, b.id,
        |         COUNT(CASE WHEN b.length >= 0 THEN 1 END) AS finishedReplicas
        |  FROM block b JOIN uc ON b.fileId = uc.fileId
        |  WHERE b.version > 0 GROUP BY b.fileId, b.id),
        |pf AS (
        |  SELECT fileId, COUNT(*) AS nBlocks,
        |         COUNT(CASE WHEN finishedReplicas >= 1 THEN 1 END) AS completeBlocks
        |  FROM pb GROUP BY fileId)
        |SELECT uc.fileId, uc.leaseHolder,
        |  COALESCE(pf.nBlocks, 0) AS nBlocks,
        |  COALESCE(pf.completeBlocks, 0) AS completeBlocks,
        |  COALESCE(pf.nBlocks, 0) = COALESCE(pf.completeBlocks, 0) AS canComplete
        |FROM uc LEFT JOIN pf ON uc.fileId = pf.fileId
        |ORDER BY uc.fileId""".stripMargin)),
    // N2: startFile case ladder — new creates, overwrite of existing
    // files, refused dirs/under-construction/no-overwrite targets
    GateEntry("n2_start_file", { (s, dir) =>
      DerivedState.register(s, dir)
      val reqs = s.sql(startFileReqsSql)
      Mutations.startFile(s.table("file"), reqs, idBase = 7000000L, nowMs = Now)
        .orderBy(col("writeOp"), col("parentId"), col("name"), col("leaseHolder"))
    }, O(
      s"""WITH reqs AS (
         |$startFileReqsSql),
         |j AS (
         |  SELECT r.parentId, r.name, r.holder, r.overwrite,
         |         p.id AS pid, p.length AS plen,
         |         t.id AS tid, t.length AS tlen, t.leaseHolder AS tlh,
         |         t.version AS tver,
         |    CASE WHEN r.name IS NULL OR length(r.name) = 0 THEN 'empty name'
         |         WHEN length(r.name) > 255 THEN 'name too long'
         |         WHEN p.id IS NULL THEN 'parent not found'
         |         WHEN p.length <> -1 THEN 'parent not a directory'
         |         WHEN t.id IS NOT NULL AND t.length = -1
         |           THEN 'already exists as directory'
         |         WHEN t.id IS NOT NULL AND t.leaseHolder IS NOT NULL
         |           THEN 'file under construction'
         |         WHEN t.id IS NOT NULL AND NOT r.overwrite THEN 'file exists'
         |         END AS reject
         |  FROM reqs r
         |  LEFT JOIN file p ON p.id = r.parentId AND p.version > 0
         |  LEFT JOIN file t ON t.parentId = r.parentId AND t.name = r.name
         |    AND t.version > 0),
         |okall AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY parentId, name
         |    ORDER BY holder) AS dupRank
         |  FROM j WHERE reject IS NULL),
         |ok AS (
         |  SELECT *, 7000000 + ROW_NUMBER() OVER (ORDER BY parentId, name, holder) AS newId
         |  FROM okall WHERE dupRank = 1)
         |SELECT writeOp, id, parentId, name, leaseHolder, version, reject FROM (
         |  SELECT 'insert' AS writeOp, newId AS id, parentId, name,
         |         holder AS leaseHolder, newId AS version,
         |         CAST(NULL AS STRING) AS reject
         |  FROM ok
         |  UNION ALL
         |  SELECT 'tombstone', tid, parentId, name, tlh, 0 - tver,
         |         CAST(NULL AS STRING)
         |  FROM ok WHERE tid IS NOT NULL
         |  UNION ALL
         |  SELECT 'lease', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), holder,
         |         holder, CAST(1700000000000 AS BIGINT), CAST(NULL AS STRING)
         |  FROM (SELECT DISTINCT holder FROM ok) h
         |  UNION ALL
         |  SELECT 'reject', COALESCE(tid, -1), parentId, name, holder,
         |         CAST(0 AS BIGINT), reject
         |  FROM j WHERE reject IS NOT NULL
         |  UNION ALL
         |  SELECT 'reject', COALESCE(tid, -1), parentId, name, holder,
         |         CAST(0 AS BIGINT), 'duplicate in batch'
         |  FROM okall WHERE dupRank > 1) u
         |ORDER BY writeOp, parentId, name, leaseHolder""".stripMargin)),
    // N2 append branch: reopen-for-append case ladder — lease re-attach +
    // file leaseHolder update + last-block finished replicas back under
    // construction; dirs / missing / under-construction targets rejected
    GateEntry("n2_append", { (s, dir) =>
      DerivedState.register(s, dir)
      val reqs = s.sql(appendReqsSql)
      Mutations.appendFile(s.table("file"), s.table("block"), reqs, nowMs = Now)
        .orderBy(col("writeOp"), col("id"), col("name"), col("leaseHolder"),
          col("version"))
    }, O(
      s"""WITH reqs AS (
         |$appendReqsSql),
         |j AS (
         |  SELECT r.parentId, r.name, r.holder,
         |         t.id AS tid, t.length AS tlen, t.leaseHolder AS tlh,
         |         t.version AS tver,
         |    CASE WHEN t.id IS NULL THEN 'file not found'
         |         WHEN t.length = -1 THEN 'already exists as a directory'
         |         WHEN t.leaseHolder IS NOT NULL THEN 'file under construction'
         |         END AS reject
         |  FROM reqs r
         |  LEFT JOIN file t ON t.parentId = r.parentId AND t.name = r.name
         |    AND t.version > 0),
         |okall AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY parentId, name
         |    ORDER BY holder) AS dupRank
         |  FROM j WHERE reject IS NULL),
         |ok AS (SELECT * FROM okall WHERE dupRank = 1),
         |lastidx AS (
         |  SELECT b.fileId, MAX(b.fileIndex) AS li FROM block b
         |  JOIN (SELECT DISTINCT tid FROM ok) o ON b.fileId = o.tid
         |  WHERE b.version > 0 GROUP BY b.fileId),
         |reopen AS (
         |  SELECT b.id, b.version, o.holder FROM block b
         |  JOIN lastidx l ON b.fileId = l.fileId AND b.fileIndex = l.li
         |  JOIN ok o ON o.tid = b.fileId
         |  WHERE b.version > 0 AND b.length >= 0)
         |SELECT writeOp, tbl, id, name, leaseHolder, version, reject FROM (
         |  SELECT 'attach' AS writeOp, 'file' AS tbl, tid AS id, name,
         |         holder AS leaseHolder, tver + 1000000000 AS version,
         |         CAST(NULL AS STRING) AS reject
         |  FROM ok
         |  UNION ALL
         |  SELECT 'lease', 'lease', CAST(-1 AS BIGINT), holder, holder,
         |         CAST(1700000000000 AS BIGINT), CAST(NULL AS STRING)
         |  FROM (SELECT DISTINCT holder FROM ok) h
         |  UNION ALL
         |  SELECT 'reopen', 'block', id, CAST(NULL AS STRING), holder,
         |         version + 1000000000, CAST(NULL AS STRING)
         |  FROM reopen
         |  UNION ALL
         |  SELECT 'reject', 'file', COALESCE(tid, -1), name, holder,
         |         CAST(0 AS BIGINT), reject
         |  FROM j WHERE reject IS NOT NULL
         |  UNION ALL
         |  SELECT 'reject', 'file', tid, name, holder, CAST(0 AS BIGINT),
         |         'file under construction'
         |  FROM okall WHERE dupRank > 1) u
         |ORDER BY writeOp, id, name, leaseHolder, version""".stripMargin)),
    // N3: next-block allocation check for every under-construction file
    GateEntry("n3_add_block", { (s, dir) =>
      DerivedState.register(s, dir)
      Mutations.addBlock(s.table("file"), s.table("block"), idBase = 5000000000L)
        .orderBy(col("fileId"))
    }, O(
      """WITH uc AS (
        |  SELECT id AS fileId FROM file
        |  WHERE version > 0 AND leaseHolder IS NOT NULL),
        |lastidx AS (
        |  SELECT fileId AS lfid, MAX(fileIndex) AS lastIndex
        |  FROM block WHERE version > 0 GROUP BY fileId),
        |lastblk AS (
        |  SELECT l.lfid, l.lastIndex,
        |         COUNT(CASE WHEN b.length >= 0 THEN 1 END) AS finished
        |  FROM block b JOIN lastidx l
        |    ON b.fileId = l.lfid AND b.fileIndex = l.lastIndex
        |  WHERE b.version > 0 GROUP BY l.lfid, l.lastIndex)
        |SELECT uc.fileId,
        |  5000000000 + uc.fileId AS newBlockId,
        |  COALESCE(lb.lastIndex, 0) + 1 AS newFileIndex,
        |  COALESCE(lb.finished, 0) AS lastFinishedReplicas,
        |  (lb.lfid IS NULL OR lb.finished >= 1) AS canAllocate
        |FROM uc LEFT JOIN lastblk lb ON uc.fileId = lb.lfid
        |ORDER BY uc.fileId""".stripMargin)),
    // P9: the startFile write-set committed ATOMICALLY across the file
    // AND lease tables (BatchStatementImpl analog); the differential
    // check is post-state checksums of both tables — any drift in the
    // multi-table apply (lost tombstone, double insert, missed lease
    // upsert) shows in the sums
    GateEntry("p9_batch_commit", { (s, dir) =>
      DerivedState.register(s, dir)
      val reqs = s.sql(startFileReqsSql)
      val ws = Mutations.startFile(s.table("file"), reqs, idBase = 7000000L, nowMs = Now)
      val inserts = ws.filter(col("writeOp") === "insert")
        .select(col("id"), col("parentId"), col("name"), lit(0L).as("length"),
          lit(1024L).as("blockSize"), lit(1L).as("replication"),
          lit(Now).as("atime"), lit(Now).as("mtime"), lit(0L).as("owner"),
          col("leaseHolder"), lit(0L).as("leaseRecoveryTime"), col("version"))
      val tombstones = s.table("file")
        .join(ws.filter(col("writeOp") === "tombstone")
          .select(col("id").as("__tid"), col("version").as("__tver")),
          col("id") === col("__tid"))
        .withColumn("version", col("__tver"))
        .drop("__tid", "__tver")
        .select(inserts.columns.toIndexedSeq.map(col): _*)
      val leaseWs = ws.filter(col("writeOp") === "lease")
        .select(col("leaseHolder").as("holder"), lit(Now).as("leaseTime"),
          lit(Now).as("version"))
      val post = Mutations.commitBatch(
        Map("file" -> s.table("file"), "lease" -> s.table("lease")),
        Map("file" -> inserts.unionByName(tombstones), "lease" -> leaseWs),
        Map("file" -> Seq("id"), "lease" -> Seq("holder")))
      val fsum = post("file")
        .agg(count(lit(1)).as("n"), sum(col("id")).as("idsum"),
          sum(col("version")).as("vsum"))
        .select(lit("file").as("tbl"), col("n"), col("idsum"), col("vsum"))
      val lsum = post("lease")
        .agg(count(lit(1)).as("n"), sum(col("leaseTime")).as("idsum"),
          sum(col("version")).as("vsum"))
        .select(lit("lease").as("tbl"), col("n"), col("idsum"), col("vsum"))
      fsum.unionByName(lsum).orderBy(col("tbl"))
    }, O(
      s"""WITH reqs AS (
         |$startFileReqsSql),
         |j AS (
         |  SELECT r.parentId, r.name, r.holder, r.overwrite,
         |         p.id AS pid, p.length AS plen,
         |         t.id AS tid, t.leaseHolder AS tlh, t.version AS tver,
         |    CASE WHEN r.name IS NULL OR length(r.name) = 0 THEN 'x'
         |         WHEN length(r.name) > 255 THEN 'x'
         |         WHEN p.id IS NULL THEN 'x'
         |         WHEN p.length <> -1 THEN 'x'
         |         WHEN t.id IS NOT NULL AND t.length = -1 THEN 'x'
         |         WHEN t.id IS NOT NULL AND t.leaseHolder IS NOT NULL THEN 'x'
         |         WHEN t.id IS NOT NULL AND NOT r.overwrite THEN 'x'
         |         END AS reject
         |  FROM reqs r
         |  LEFT JOIN file p ON p.id = r.parentId AND p.version > 0
         |  LEFT JOIN file t ON t.parentId = r.parentId AND t.name = r.name
         |    AND t.version > 0),
         |okall AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY parentId, name
         |    ORDER BY holder) AS dupRank
         |  FROM j WHERE reject IS NULL),
         |ok AS (
         |  SELECT *, 7000000 + ROW_NUMBER() OVER (ORDER BY parentId, name, holder) AS newId
         |  FROM okall WHERE dupRank = 1),
         |filews AS (
         |  SELECT newId AS id, newId AS version FROM ok
         |  UNION ALL
         |  SELECT tid, 0 - tver FROM ok WHERE tid IS NOT NULL),
         |filepost AS (
         |  SELECT id, version FROM file WHERE id NOT IN (SELECT id FROM filews)
         |  UNION ALL SELECT id, version FROM filews),
         |leasews AS (
         |  SELECT holder, CAST(1700000000000 AS BIGINT) AS leaseTime,
         |         CAST(1700000000000 AS BIGINT) AS version
         |  FROM (SELECT DISTINCT holder FROM ok) h),
         |leasepost AS (
         |  SELECT holder, leaseTime, version FROM lease
         |  WHERE holder NOT IN (SELECT holder FROM leasews)
         |  UNION ALL SELECT holder, leaseTime, version FROM leasews)
         |SELECT tbl, n, idsum, vsum FROM (
         |  SELECT 'file' AS tbl, COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS idsum,
         |         CAST(SUM(version) AS BIGINT) AS vsum
         |  FROM filepost
         |  UNION ALL
         |  SELECT 'lease', COUNT(*), CAST(SUM(leaseTime) AS BIGINT),
         |         CAST(SUM(version) AS BIGINT)
         |  FROM leasepost) u
         |ORDER BY tbl""".stripMargin)),
    // FsShell cp: recursive metadata copy of customer-dir subtrees under
    // nation dir 6 (file rows + duplicated block rows under new ids),
    // plus the full reject ladder — missing source, destination
    // collision, parent-not-a-directory, copy-into-own-subtree
    GateEntry("n_copy", { (s, dir) =>
      DerivedState.register(s, dir)
      val reqs = s.sql(copyReqsSql)
      Mutations.copy(s.table("file"), s.table("block"), reqs,
          idBase = 8000000L, blockIdBase = 20000000L)
        .orderBy(col("writeOp"), col("tbl"), col("id"), col("datanodeId"))
    }, O(
      s"""WITH RECURSIVE reqs AS (
         |$copyReqsSql),
         |v AS (
         |  SELECT r.srcId, r.dstParentId, r.newName,
         |    CASE WHEN s.id IS NULL THEN 'source not found'
         |         WHEN p.id IS NULL THEN 'parent not found'
         |         WHEN p.length <> -1 THEN 'parent not a directory'
         |         WHEN t.name IS NOT NULL THEN 'destination exists'
         |         END AS reject
         |  FROM reqs r
         |  LEFT JOIN file s ON s.id = r.srcId AND s.version > 0
         |  LEFT JOIN file p ON p.id = r.dstParentId AND p.version > 0
         |  LEFT JOIN file t ON t.parentId = r.dstParentId
         |    AND t.name = r.newName AND t.version > 0),
         |deduped AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY dstParentId, newName
         |    ORDER BY srcId) AS dup
         |  FROM v WHERE reject IS NULL),
         |acc AS (SELECT srcId, dstParentId, newName FROM deduped WHERE dup = 1),
         |members AS (
         |  SELECT r.srcId, r.dstParentId, r.newName,
         |         f.id, f.parentId, f.name, f.length
         |  FROM acc r JOIN file f ON f.id = r.srcId AND f.version > 0
         |  UNION ALL
         |  SELECT m.srcId, m.dstParentId, m.newName,
         |         c.id, c.parentId, c.name, c.length
         |  FROM members m JOIN file c ON c.parentId = m.id
         |    AND c.version > 0 AND c.id <> 0),
         |cyc AS (SELECT DISTINCT srcId, dstParentId, newName
         |        FROM members WHERE id = dstParentId),
         |good AS (
         |  SELECT m.* FROM members m
         |  LEFT JOIN cyc c ON m.srcId = c.srcId AND m.dstParentId = c.dstParentId
         |    AND m.newName = c.newName
         |  WHERE c.srcId IS NULL),
         |ranked AS (
         |  SELECT *, 8000000 + ROW_NUMBER() OVER (ORDER BY srcId, dstParentId,
         |    newName, id) AS newId
         |  FROM good),
         |copiedfiles AS (
         |  SELECT srcId, dstParentId, newName, id AS oldF, newId AS newF
         |  FROM ranked WHERE length <> -1),
         |reps AS (
         |  SELECT cf.srcId, cf.dstParentId, cf.newName, b.id AS ob,
         |         b.datanodeId, b.length, cf.newF
         |  FROM copiedfiles cf
         |  JOIN block b ON b.fileId = cf.oldF AND b.version > 0),
         |bkeys AS (
         |  SELECT srcId, dstParentId, newName, ob,
         |    20000000 + ROW_NUMBER() OVER (ORDER BY srcId, dstParentId,
         |      newName, ob) AS newBid
         |  FROM (SELECT DISTINCT srcId, dstParentId, newName, ob FROM reps))
         |SELECT writeOp, tbl, id, parentId, name, length, datanodeId,
         |       srcId, version, reject
         |FROM (
         |  SELECT 'copy' AS writeOp, 'file' AS tbl, g.newId AS id,
         |         CASE WHEN g.id = g.srcId THEN g.dstParentId
         |              ELSE pm.newId END AS parentId,
         |         CASE WHEN g.id = g.srcId THEN g.newName
         |              ELSE g.name END AS name,
         |         g.length, CAST(NULL AS BIGINT) AS datanodeId,
         |         g.id AS srcId, g.newId AS version, CAST(NULL AS STRING) AS reject
         |  FROM ranked g
         |  LEFT JOIN ranked pm ON pm.srcId = g.srcId
         |    AND pm.dstParentId = g.dstParentId AND pm.newName = g.newName
         |    AND pm.id = g.parentId
         |  UNION ALL
         |  SELECT 'copy', 'block', k.newBid, r.newF,
         |         CAST(NULL AS STRING), r.length, r.datanodeId,
         |         r.ob, k.newBid, CAST(NULL AS STRING)
         |  FROM reps r JOIN bkeys k ON k.srcId = r.srcId
         |    AND k.dstParentId = r.dstParentId AND k.newName = r.newName
         |    AND k.ob = r.ob
         |  UNION ALL
         |  SELECT 'reject', 'file', srcId, dstParentId, newName,
         |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), srcId,
         |         CAST(0 AS BIGINT), reject
         |  FROM v WHERE reject IS NOT NULL
         |  UNION ALL
         |  SELECT 'reject', 'file', srcId, dstParentId, newName,
         |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), srcId,
         |         CAST(0 AS BIGINT), 'duplicate in batch'
         |  FROM deduped WHERE dup > 1
         |  UNION ALL
         |  SELECT 'reject', 'file', srcId, dstParentId, newName,
         |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), srcId,
         |         CAST(0 AS BIGINT), 'cannot copy a directory into its own subtree'
         |  FROM cyc)
         |ORDER BY writeOp, tbl, id, datanodeId""".stripMargin)),
    // FsShell put collapsed to the namenode write-set: completed file
    // rows with REAL lengths + sequence()-exploded block rows (last
    // block partial), validation and id assignment per startFile
    GateEntry("n_put", { (s, dir) =>
      DerivedState.register(s, dir)
      val reqs = s.sql(putReqsSql)
      Mutations.putFile(s.table("file"), reqs, idBase = 7100000L,
          blockIdBase = 8000000000L, blockSize = 67108864L, nowMs = Now)
        .orderBy(col("writeOp"), col("tbl"), col("id"), col("fileIndex"))
    }, O(
      s"""WITH reqs AS (
         |$putReqsSql),
         |j AS (
         |  SELECT r.parentId, r.name, r.holder, r.fileLength,
         |         p.id AS pid, p.length AS plen,
         |         t.id AS tid, t.length AS tlen, t.leaseHolder AS tlh,
         |    CASE WHEN r.name IS NULL OR length(r.name) = 0 THEN 'empty name'
         |         WHEN length(r.name) > 255 THEN 'name too long'
         |         WHEN p.id IS NULL THEN 'parent not found'
         |         WHEN p.length <> -1 THEN 'parent not a directory'
         |         WHEN t.id IS NOT NULL AND t.length = -1
         |           THEN 'already exists as directory'
         |         WHEN t.id IS NOT NULL AND t.leaseHolder IS NOT NULL
         |           THEN 'file under construction'
         |         WHEN t.id IS NOT NULL THEN 'file exists'
         |         END AS reject
         |  FROM reqs r
         |  LEFT JOIN file p ON p.id = r.parentId AND p.version > 0
         |  LEFT JOIN file t ON t.parentId = r.parentId AND t.name = r.name
         |    AND t.version > 0),
         |okall AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY parentId, name
         |    ORDER BY holder) AS dupRank
         |  FROM j WHERE reject IS NULL),
         |ok AS (
         |  SELECT *, 7100000 + ROW_NUMBER() OVER (ORDER BY parentId, name, holder)
         |    AS newId
         |  FROM okall WHERE dupRank = 1),
         |blk AS (
         |  SELECT newId AS fileId, fileLength,
         |         (fileLength + 67108863) // 67108864 AS nBlocks
         |  FROM ok WHERE fileLength > 0),
         |bx AS (
         |  SELECT fileId, unnest(range(1, nBlocks + 1)) AS fileIndex,
         |         nBlocks, fileLength
         |  FROM blk),
         |br AS (
         |  SELECT fileId, fileIndex,
         |         CAST(CASE WHEN fileIndex < nBlocks THEN 67108864
         |              ELSE fileLength - (nBlocks - 1) * 67108864 END AS BIGINT)
         |           AS blockLength,
         |         8000000000 + ROW_NUMBER() OVER (ORDER BY fileId, fileIndex)
         |           AS blockId
         |  FROM bx)
         |SELECT writeOp, tbl, id, parentId, name, length, fileIndex, version,
         |       reject FROM (
         |  SELECT 'insert' AS writeOp, 'file' AS tbl, newId AS id, parentId,
         |         name, fileLength AS length, CAST(0 AS BIGINT) AS fileIndex,
         |         newId AS version, CAST(NULL AS STRING) AS reject
         |  FROM ok
         |  UNION ALL
         |  SELECT 'blockInsert', 'block', blockId, fileId, CAST(NULL AS STRING),
         |         blockLength, fileIndex, blockId, CAST(NULL AS STRING)
         |  FROM br
         |  UNION ALL
         |  SELECT 'reject', 'file', COALESCE(tid, -1), parentId, name,
         |         CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), reject
         |  FROM j WHERE reject IS NOT NULL
         |  UNION ALL
         |  SELECT 'reject', 'file', COALESCE(tid, -1), parentId, name,
         |         CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |         'duplicate in batch'
         |  FROM okall WHERE dupRank > 1) u
         |ORDER BY writeOp, tbl, id, fileIndex""".stripMargin)),
    // put ingest STREAMED (the production shape): the request mix arrives
    // in micro-batches; each batch's putFile runs against the namespace
    // AS EVOLVED by the previous batches, id bases ratcheting forward —
    // the single-writer commit loop. Parity surface is id-agnostic
    // ((parent, name) → length + ordered block lengths) because rank-
    // assigned ids legitimately differ with batch boundaries; acceptance
    // and fan-out must not. Write-sets are request-bounded, so the
    // driver-side accumulation is the standard bounded-collect shape.
    GateEntry("n_put_stream_parity", { (s, dir) =>
      import s.implicits._
      DerivedState.register(s, dir)
      val tmp = graft.core.Caching.scratchDir("nput-stream")
      val feedDir = tmp.resolve("feed").toString
      val feed = s.sql(putReqsSql).repartition(4)
      feed.write.parquet(feedDir)
      val fileCols = Seq("id", "parentId", "name", "length", "leaseHolder", "version")
      var fileSnap = s.table("file").select(fileCols.map(col): _*)
      var idBase = fileSnap.filter(col("version") > 0)
        .agg(coalesce(max(col("id")), lit(0L))).collect()(0).getLong(0)
      var blockIdBase = 8000000000L
      val fileRows = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, String, Long)] // id, parentId, name, length
      val blockRows = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long)] // fileId, fileIndex, length
      val q = s.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", "1") // force several micro-batches
        .parquet(feedDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          // request-mix-bounded: localize the batch into the OUTER session
          // so putFile's joins never mix micro-batch and session plans
          val reqRows = batch.toDF().collect()
          val reqs = s.createDataFrame(
            java.util.Arrays.asList(reqRows: _*), batch.schema)
          val ws = graft.state.Mutations.putFile(fileSnap, reqs,
            idBase = idBase, blockIdBase = blockIdBase,
            blockSize = 67108864L, nowMs = Now).collect()
          val ins = ws.filter(_.getAs[String]("writeOp") == "insert")
            .map(r => (r.getAs[Long]("id"), r.getAs[Long]("parentId"),
              r.getAs[String]("name"), r.getAs[Long]("length")))
          fileRows ++= ins
          blockRows ++= ws.filter(_.getAs[String]("writeOp") == "blockInsert")
            .map(r => (r.getAs[Long]("parentId"), r.getAs[Long]("fileIndex"),
              r.getAs[Long]("length")))
          if (ins.nonEmpty) {
            val newRows = s.createDataFrame(ins.toSeq
              .map { case (id, p, n, l) => (id, p, n, l, None: Option[String], id) }
              .toDF(fileCols: _*).rdd, fileSnap.schema)
            fileSnap = fileSnap.unionByName(newRows).localCheckpoint()
            idBase = math.max(idBase, ins.map(_._1).max)
            blockIdBase = math.max(blockIdBase,
              ws.filter(_.getAs[String]("writeOp") == "blockInsert")
                .map(_.getAs[Long]("id")).foldLeft(blockIdBase)(math.max))
          }
          ()
        }
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val files = fileRows.toSeq.toDF("fileId", "parentId", "name", "length")
      val blocks = blockRows.toSeq.toDF("bFileId", "fileIndex", "blockLen")
      files.join(
          blocks.groupBy(col("bFileId"))
            .agg(count(lit(1)).as("nBlocks"),
              array_join(transform(
                array_sort(collect_list(struct(col("fileIndex"), col("blockLen")))),
                x => x.getField("blockLen").cast("string")), ",").as("blockLens")),
          col("fileId") === col("bFileId"), "left")
        .select(col("parentId"), col("name"), col("length"),
          coalesce(col("nBlocks"), lit(0L)).as("nBlocks"),
          coalesce(col("blockLens"), lit("")).as("blockLens"))
        .orderBy(col("parentId"), col("name"))
    }, O(
      s"""WITH reqs AS (
         |$putReqsSql),
         |j AS (
         |  SELECT r.parentId, r.name, r.holder, r.fileLength,
         |         p.id AS pid, t.id AS tid,
         |    CASE WHEN r.name IS NULL OR length(r.name) = 0 THEN 'x'
         |         WHEN length(r.name) > 255 THEN 'x'
         |         WHEN p.id IS NULL THEN 'x'
         |         WHEN p.length <> -1 THEN 'x'
         |         WHEN t.id IS NOT NULL THEN 'x'
         |         END AS reject
         |  FROM reqs r
         |  LEFT JOIN file p ON p.id = r.parentId AND p.version > 0
         |  LEFT JOIN file t ON t.parentId = r.parentId AND t.name = r.name
         |    AND t.version > 0),
         |ok AS (
         |  SELECT parentId, name, fileLength,
         |         ROW_NUMBER() OVER (PARTITION BY parentId, name
         |           ORDER BY holder) AS dupRank
         |  FROM j WHERE reject IS NULL),
         |acc AS (SELECT * FROM ok WHERE dupRank = 1),
         |blk AS (
         |  SELECT parentId, name, fileLength,
         |         (fileLength + 67108863) // 67108864 AS nBlocks
         |  FROM acc WHERE fileLength > 0),
         |bx AS (
         |  SELECT parentId, name,
         |         unnest(range(1, nBlocks + 1)) AS fileIndex,
         |         nBlocks, fileLength
         |  FROM blk),
         |agg AS (
         |  SELECT parentId, name, COUNT(*) AS nBlocks,
         |    string_agg(CAST(CAST(CASE WHEN fileIndex < nBlocks THEN 67108864
         |      ELSE fileLength - (nBlocks - 1) * 67108864 END AS BIGINT)
         |      AS VARCHAR), ',' ORDER BY fileIndex) AS blockLens
         |  FROM bx GROUP BY parentId, name)
         |SELECT a.parentId, a.name, a.fileLength AS length,
         |  COALESCE(g.nBlocks, 0) AS nBlocks,
         |  COALESCE(g.blockLens, '') AS blockLens
         |FROM acc a LEFT JOIN agg g
         |  ON g.parentId = a.parentId AND g.name = a.name
         |ORDER BY a.parentId, a.name""".stripMargin)),
    // abandonBlock: checkLease ladder + replica tombstones over the UC
    // files of the derived namespace
    GateEntry("n_abandon_block", { (s, dir) =>
      DerivedState.register(s, dir)
      // NB: the min-block lookup is a grouped JOIN, not a correlated
      // scalar subquery — the subquery's decorrelation re-resolved the
      // view unions inside the operator's joins and crashed the
      // optimizer (PushProjectionThroughUnion, key-not-found)
      val reqs = s.sql(abandonReqsSql)
      Mutations.abandonBlock(s.table("file"), s.table("block"), reqs)
        .orderBy(col("writeOp"), col("fileId"), col("blockId"),
          col("datanodeId"), col("reject"))
    }, O(
      s"""WITH req AS (
         |$abandonReqsSql),
         |rv AS (SELECT DISTINCT fileId, blockId, holder FROM req),
         |v AS (
         |  SELECT rv.fileId, rv.blockId, rv.holder,
         |    CASE WHEN f.id IS NULL THEN 'file not found'
         |         WHEN f.length = -1 THEN 'file is a directory'
         |         WHEN f.leaseHolder IS NULL THEN 'file not under construction'
         |         WHEN rv.holder IS NULL THEN 'null holder'
         |         WHEN rv.holder <> f.leaseHolder THEN 'wrong holder'
         |    END AS reject
         |  FROM rv LEFT JOIN file f ON f.id = rv.fileId AND f.version > 0)
         |SELECT writeOp, fileId, blockId, datanodeId, version, reject FROM (
         |  SELECT 'tombstone' AS writeOp, v.fileId, b.id AS blockId,
         |         b.datanodeId, -b.version AS version,
         |         CAST(NULL AS STRING) AS reject
         |  FROM v JOIN block b ON b.id = v.blockId AND b.version > 0
         |  WHERE v.reject IS NULL
         |  UNION ALL
         |  SELECT 'reject', fileId, blockId, CAST(NULL AS BIGINT),
         |         CAST(NULL AS BIGINT), reject
         |  FROM v WHERE reject IS NOT NULL) u
         |ORDER BY writeOp, fileId, blockId, datanodeId, reject""".stripMargin)),
    // Trash.moveToTrash: mirror-chain creation + moves + the reject
    // ladder. The request mix keeps dir requests (nation-13 customers)
    // disjoint from file requests (other nations) — a nested batch is
    // engine-defined (MutationsSpec) but not reference-reproducible, so
    // the oracle stays on the common semantics
    GateEntry("n_trash", { (s, dir) =>
      DerivedState.register(s, dir)
      val reqs = s.sql(trashReqsSql)
      Mutations.moveToTrash(s.table("file"), reqs, idBase = 9000000L,
          nowMs = Now)
        .orderBy(col("writeOp"), col("id"), col("name"))
    }, O(
      s"""WITH RECURSIVE req AS (
         |$trashReqsSql),
         |p AS (
         |  SELECT id, parentId, name, length, version, '' AS path
         |  FROM file WHERE id = 0 AND version > 0
         |  UNION ALL
         |  SELECT f.id, f.parentId, f.name, f.length, f.version,
         |         p.path || '/' || f.name
         |  FROM file f JOIN p ON f.parentId = p.id
         |  WHERE f.version > 0 AND f.id <> 0),
         |rv AS (
         |  SELECT r.id AS rid, p.id AS lid, p.parentId AS oldP, p.name, p.path
         |  FROM (SELECT DISTINCT id FROM req) r LEFT JOIN p ON p.id = r.id),
         |rej AS (
         |  SELECT rid, CASE WHEN lid IS NULL THEN 'no such file'
         |                   WHEN rid = 0 THEN 'cannot move root to trash'
         |                   WHEN path = '/.Trash'
         |                     OR starts_with(path, '/.Trash/') THEN 'already in trash'
         |              END AS reject
         |  FROM rv),
         |oks AS (
         |  SELECT rv.*, substr(path, 1, length(path) - length(name) - 1) AS ppath
         |  FROM rv JOIN rej ON rv.rid = rej.rid WHERE rej.reject IS NULL),
         |chains AS (
         |  SELECT rid, cpath FROM (
         |    SELECT o.rid, '/.Trash' AS cpath FROM oks o
         |    UNION ALL SELECT o.rid, '/.Trash/Current' FROM oks o
         |    UNION ALL
         |    SELECT o.rid, '/.Trash/Current' || d.path
         |    FROM oks o JOIN p d ON d.length = -1 AND d.id <> 0
         |      AND (o.ppath = d.path OR starts_with(o.ppath, d.path || '/')))),
         |exist AS (
         |  SELECT DISTINCT c.cpath AS mpath, p.id, p.length
         |  FROM chains c JOIN p ON p.path = c.cpath),
         |blockedreq AS (
         |  SELECT DISTINCT c.rid FROM chains c
         |  JOIN exist e ON e.mpath = c.cpath AND e.length <> -1),
         |ok2 AS (
         |  SELECT * FROM oks WHERE rid NOT IN (SELECT rid FROM blockedreq)),
         |needed AS (
         |  SELECT DISTINCT cpath FROM chains
         |  WHERE rid IN (SELECT rid FROM ok2)),
         |missing AS (
         |  SELECT cpath, 9000000 + ROW_NUMBER() OVER (ORDER BY cpath) AS nid
         |  FROM needed WHERE cpath NOT IN (SELECT mpath FROM exist)),
         |dirids AS (
         |  SELECT cpath, nid AS did FROM missing
         |  UNION ALL SELECT mpath, id FROM exist WHERE length = -1),
         |insrows AS (
         |  SELECT 'insert' AS writeOp, m.nid AS id,
         |    COALESCE(d2.did, 0) AS parentId,
         |    list_last(string_split(m.cpath, '/')) AS name,
         |    CAST(-1 AS BIGINT) AS length, CAST($Now AS BIGINT) AS mtime,
         |    m.nid AS version, CAST(NULL AS STRING) AS reject
         |  FROM missing m
         |  LEFT JOIN dirids d2 ON d2.cpath = substr(m.cpath, 1,
         |    length(m.cpath) - length(list_last(string_split(m.cpath, '/'))) - 1)),
         |mvrows AS (
         |  SELECT 'move' AS writeOp, o.rid AS id, di.did AS parentId,
         |    o.name, pf.length, CAST($Now AS BIGINT) AS mtime,
         |    pf.version + 1000000000 AS version, CAST(NULL AS STRING) AS reject
         |  FROM ok2 o
         |  JOIN dirids di ON di.cpath = '/.Trash/Current' || o.ppath
         |  JOIN p pf ON pf.id = o.rid),
         |touchids AS (
         |  SELECT DISTINCT tid FROM (
         |    SELECT oldP AS tid FROM ok2
         |    UNION ALL
         |    SELECT e.id FROM exist e
         |    JOIN (SELECT DISTINCT '/.Trash/Current' || ppath AS dp FROM ok2) dd
         |      ON e.mpath = dd.dp AND e.length = -1
         |    UNION ALL
         |    SELECT parentId FROM insrows
         |    WHERE parentId NOT IN (SELECT nid FROM missing)) t
         |  WHERE tid NOT IN (SELECT rid FROM ok2)),
         |tchrows AS (
         |  SELECT 'touch' AS writeOp, pf.id, pf.parentId, pf.name, pf.length,
         |    CAST($Now AS BIGINT) AS mtime, pf.version,
         |    CAST(NULL AS STRING) AS reject
         |  FROM p pf JOIN touchids t ON pf.id = t.tid),
         |rejrows AS (
         |  SELECT 'reject' AS writeOp, rid AS id, CAST(NULL AS BIGINT) AS parentId,
         |    CAST(NULL AS STRING) AS name, CAST(NULL AS BIGINT) AS length,
         |    CAST(NULL AS BIGINT) AS mtime, CAST(NULL AS BIGINT) AS version,
         |    reject
         |  FROM rej WHERE reject IS NOT NULL
         |  UNION ALL
         |  SELECT 'reject', rid, NULL, NULL, NULL, NULL, NULL,
         |    'trash path blocked by a file'
         |  FROM blockedreq)
         |SELECT writeOp, id, parentId, name, length, mtime, version, reject
         |FROM (SELECT * FROM insrows UNION ALL SELECT * FROM mvrows
         |      UNION ALL SELECT * FROM tchrows UNION ALL SELECT * FROM rejrows) u
         |ORDER BY writeOp, id, name""".stripMargin), materializeOracle = true),
    // Decommission lifecycle: start on every 5th node (the skip branch
    // fires on an already-retired one), stop on a decommissioned and an
    // in-progress node, and the standing in-progress node re-checked —
    // gate evaluated over the blocks of every 625th file so a node holding
    // none of them retires in the same batch (the immediate-finish branch)
    GateEntry("n_decommission", { (s, dir) =>
      DerivedState.register(s, dir)
      val reqs = s.sql(decommissionReqsSql)
      Mutations.setAdminState(s.table("datanode"),
          s.table("block").filter(col("fileId") % 625 === 0L),
          s.table("file"), reqs)
        .orderBy(col("id"))
    }, O(
      s"""WITH reqs AS (
         |$decommissionReqsSql),
         |dn AS (SELECT id, adminState, version FROM datanode WHERE version > 0),
         |starts AS (
         |  SELECT d.id, d.version FROM dn d
         |  JOIN reqs r ON d.id = r.nodeId AND r.op = 'start'
         |  WHERE d.adminState = 'NORMAL'),
         |stops AS (
         |  SELECT d.id, d.adminState, d.version FROM dn d
         |  JOIN reqs r ON d.id = r.nodeId AND r.op = 'stop'
         |  WHERE d.adminState <> 'NORMAL'),
         |checks AS (
         |  SELECT d.id, d.version FROM dn d
         |  WHERE d.adminState = 'DECOMMISSION_INPROGRESS'
         |    AND d.id NOT IN (SELECT id FROM stops)),
         |eff AS (
         |  SELECT d.id,
         |    CASE WHEN d.id IN (SELECT id FROM starts) THEN 'DECOMMISSION_INPROGRESS'
         |         WHEN d.id IN (SELECT id FROM stops) THEN 'NORMAL'
         |         ELSE d.adminState END AS effState
         |  FROM dn d),
         |blk AS (SELECT id, datanodeId, fileId FROM block
         |        WHERE version > 0 AND fileId % 625 = 0),
         |cand AS (SELECT id AS nodeId FROM starts
         |         UNION SELECT id FROM checks),
         |counts AS (
         |  SELECT b.id,
         |    COUNT(CASE WHEN e.effState = 'NORMAL' THEN 1 END) AS liveReps,
         |    COUNT(CASE WHEN e.effState <> 'NORMAL' THEN 1 END) AS decomReps
         |  FROM blk b JOIN eff e ON b.datanodeId = e.id
         |  WHERE b.id IN (SELECT b2.id FROM blk b2
         |                 JOIN cand c ON b2.datanodeId = c.nodeId)
         |  GROUP BY b.id),
         |held AS (
         |  SELECT c.nodeId, f.replication, f.leaseHolder, k.liveReps, k.decomReps
         |  FROM cand c
         |  JOIN blk b ON b.datanodeId = c.nodeId
         |  JOIN file f ON b.fileId = f.id AND f.version > 0
         |  JOIN counts k ON b.id = k.id),
         |agg AS (
         |  SELECT nodeId,
         |    COUNT(CASE WHEN replication > liveReps THEN 1 END) AS u,
         |    COUNT(CASE WHEN replication > liveReps AND liveReps = 0
         |               AND decomReps > 0 THEN 1 END) AS donly,
         |    COUNT(CASE WHEN replication > liveReps
         |               AND leaseHolder IS NOT NULL THEN 1 END) AS uopen
         |  FROM held GROUP BY nodeId),
         |status AS (
         |  SELECT c.nodeId, COALESCE(a.u, 0) AS u, COALESCE(a.donly, 0) AS donly,
         |         COALESCE(a.uopen, 0) AS uopen
         |  FROM cand c LEFT JOIN agg a ON c.nodeId = a.nodeId)
         |SELECT writeOp, id, prevAdminState, adminState, underReplicatedBlocks,
         |       decommissionOnlyReplicas, underReplicatedInOpenFiles, version
         |FROM (
         |  SELECT 'admin' AS writeOp, s.id, 'NORMAL' AS prevAdminState,
         |         CASE WHEN st.u = 0 THEN 'DECOMMISSIONED'
         |              ELSE 'DECOMMISSION_INPROGRESS' END AS adminState,
         |         st.u AS underReplicatedBlocks,
         |         st.donly AS decommissionOnlyReplicas,
         |         st.uopen AS underReplicatedInOpenFiles,
         |         s.version + 1 AS version
         |  FROM starts s JOIN status st ON s.id = st.nodeId
         |  UNION ALL
         |  SELECT CASE WHEN st.u = 0 THEN 'admin' ELSE 'status' END, c.id,
         |         'DECOMMISSION_INPROGRESS',
         |         CASE WHEN st.u = 0 THEN 'DECOMMISSIONED'
         |              ELSE 'DECOMMISSION_INPROGRESS' END,
         |         st.u, st.donly, st.uopen,
         |         CASE WHEN st.u = 0 THEN c.version + 1 ELSE c.version END
         |  FROM checks c JOIN status st ON c.id = st.nodeId
         |  UNION ALL
         |  SELECT 'admin', p.id, p.adminState, 'NORMAL',
         |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         |         CAST(NULL AS BIGINT), p.version + 1
         |  FROM stops p)
         |ORDER BY id""".stripMargin)),
    // Lease release lifecycle over every leased (under-construction)
    // file: aliveness synthesized so all three branches fire — every 3rd
    // node heartbeats at Now and the rest are stale; nodes > 35 are
    // dropped (the unknown-descriptor finalize); every UC file with
    // fileId % 200 = 150 loses its block rows (the no-blocks finalize)
    GateEntry("n_release", { (s, dir) =>
      DerivedState.register(s, dir)
      val holders = s.sql(
        """SELECT DISTINCT leaseHolder AS holder FROM file
          |WHERE version > 0 AND leaseHolder IS NOT NULL""".stripMargin)
      val dn = s.table("datanode").filter(col("id") <= 35L)
        .withColumn("lastUpdated",
          when(col("id") % 3 === 0L, lit(Now)).otherwise(lit(0L)))
      val blocks = s.table("block").filter(col("fileId") % 200 =!= 150L)
      Mutations.releaseLeases(s.table("file"), blocks, dn, holders, Now)
        .orderBy(col("writeOp"), col("id"))
    }, O(
      s"""WITH holders AS (
         |  SELECT DISTINCT leaseHolder AS h FROM file
         |  WHERE version > 0 AND leaseHolder IS NOT NULL),
         |uc AS (
         |  SELECT f.id AS fid, f.version AS fver FROM file f
         |  JOIN holders ON f.leaseHolder = holders.h WHERE f.version > 0),
         |fb AS (
         |  SELECT b.* FROM block b JOIN uc ON b.fileId = uc.fid
         |  WHERE b.version > 0 AND b.fileId % 200 <> 150),
         |entries AS (
         |${primaryEntriesSql("fb")}),
         |perFile AS (
         |  SELECT fileId,
         |    SUM(CASE WHEN primLen > 0 THEN primLen ELSE 0 END) AS totalLen,
         |    ARG_MAX(blockId, fileIndex) AS lastBlockId,
         |    MAX(fileIndex) AS lastIdx
         |  FROM entries GROUP BY fileId),
         |dn AS (
         |  SELECT id, CASE WHEN id % 3 = 0 THEN $Now ELSE 0 END AS lastUpdated
         |  FROM datanode WHERE version > 0 AND id <= 35),
         |lastReps AS (
         |  SELECT DISTINCT b.fileId, b.datanodeId FROM fb b
         |  JOIN perFile p ON b.fileId = p.fileId AND b.fileIndex = p.lastIdx
         |  WHERE b.datanodeId <> 0),
         |targets AS (
         |  SELECT l.fileId, l.datanodeId,
         |    dn.lastUpdated >= $Now - 600000 AS alive
         |  FROM lastReps l JOIN dn ON l.datanodeId = dn.id),
         |rot AS (
         |  SELECT fileId, datanodeId, alive,
         |    ROW_NUMBER() OVER (PARTITION BY fileId ORDER BY datanodeId) - 1 AS rk,
         |    COUNT(*) OVER (PARTITION BY fileId) AS n
         |  FROM targets),
         |rot2 AS (SELECT *, ((rk - $Now % n) % n + n) % n AS rotOrd FROM rot),
         |stats AS (
         |  SELECT fileId, COUNT(*) AS nT,
         |    SUM(CASE WHEN alive THEN 1 ELSE 0 END) AS nAlive
         |  FROM rot2 GROUP BY fileId),
         |prim AS (
         |  SELECT fileId, ARG_MIN(datanodeId, rotOrd) AS primaryNode
         |  FROM rot2 WHERE alive GROUP BY fileId),
         |cls AS (
         |  SELECT u.fid, u.fver, COALESCE(p.totalLen, 0) AS totalLen,
         |    p.lastBlockId, COALESCE(s.nT, 0) AS nT,
         |    COALESCE(s.nAlive, 0) AS nAlive, pr.primaryNode
         |  FROM uc u
         |  LEFT JOIN perFile p ON u.fid = p.fileId
         |  LEFT JOIN stats s ON u.fid = s.fileId
         |  LEFT JOIN prim pr ON u.fid = pr.fileId)
         |SELECT 'finalize' AS writeOp, 'file' AS tbl, fid AS id,
         |  CAST(totalLen AS BIGINT) AS length, CAST(NULL AS STRING) AS leaseHolder,
         |  CAST(0 AS BIGINT) AS leaseRecoveryTime, CAST(NULL AS BIGINT) AS blockId,
         |  CAST(NULL AS BIGINT) AS primaryNodeId, fver + 1 AS version
         |FROM cls WHERE nT = 0
         |UNION ALL
         |SELECT 'recover', 'cmd', fid, CAST(NULL AS BIGINT), CAST(NULL AS STRING),
         |  CAST(NULL AS BIGINT), lastBlockId, primaryNode, fver
         |FROM cls WHERE nAlive > 0
         |UNION ALL
         |SELECT 'nnlease', 'file', fid, CAST(NULL AS BIGINT), 'NN_Recovery',
         |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         |  fver + 1
         |FROM cls WHERE nT > 0 AND nAlive = 0
         |UNION ALL
         |SELECT 'lease', 'lease', CAST(-1 AS BIGINT), CAST(NULL AS BIGINT),
         |  'NN_Recovery', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         |  CAST(NULL AS BIGINT), CAST($Now AS BIGINT)
         |FROM (SELECT COUNT(*) AS c FROM cls WHERE nT > 0 AND nAlive = 0) t
         |WHERE t.c > 0
         |ORDER BY writeOp, id""".stripMargin)),
    // commitBlockSynchronization applied to every block of each %50 UC
    // file (plus %50=1 non-UC files for the not-under-construction
    // reject and a missing block id): even block ids close their file,
    // %5 ids delete the block, %11 ids carry only an unknown target
    // (the no-valid-target arms), %7 ids get a synthetic NULL_DATANODE
    // flag row (the flag kept/tombstoned arms) — every branch of the
    // operator fires under the oracle
    GateEntry("n_block_sync", { (s, dir) =>
      DerivedState.register(s, dir)
      val reqs = s.sql(
        """SELECT id AS blockId, CAST(200 AS BIGINT) AS newGenStamp,
          |       id % 2 = 0 AS closeFile, id % 5 = 0 AS deleteBlock,
          |       CASE WHEN id % 11 = 0 THEN array(CAST(99 AS BIGINT))
          |            ELSE array(1 + id % 40, 1 + (id + 7) % 40,
          |                       CAST(99 AS BIGINT)) END AS targets
          |FROM (SELECT DISTINCT id FROM block
          |      WHERE version > 0 AND (fileId % 50 = 0 OR fileId % 50 = 1)) t
          |UNION ALL
          |SELECT CAST(42 AS BIGINT), CAST(200 AS BIGINT), false, false,
          |       array(CAST(1 AS BIGINT))""".stripMargin)
      val flagRows = s.sql(BlockSyncFlagRowsSql)
      val aug = s.table("block").unionByName(flagRows)
      Mutations.commitBlockSync(s.table("file"), aug,
          s.table("datanode"), reqs,
          versionBase = Mutations.blockSyncVersionBase(aug))
        .orderBy(col("writeOp"), col("id"), col("datanodeId"))
    }, O(
      s"""WITH reqs0 AS (
         |  SELECT id AS blockId, CAST(200 AS BIGINT) AS newGenStamp,
         |         id % 2 = 0 AS closeFile, id % 5 = 0 AS deleteBlock,
         |         CASE WHEN id % 11 = 0 THEN [CAST(99 AS BIGINT)]
         |              ELSE [1 + id % 40, 1 + (id + 7) % 40,
         |                    CAST(99 AS BIGINT)] END AS targets
         |  FROM (SELECT DISTINCT id FROM block
         |        WHERE version > 0 AND (fileId % 50 = 0 OR fileId % 50 = 1)) t
         |  UNION ALL
         |  SELECT CAST(42 AS BIGINT), CAST(200 AS BIGINT), false, false,
         |         [CAST(1 AS BIGINT)]),
         |reqs AS (
         |  SELECT blockId, newGenStamp, closeFile, deleteBlock, targets
         |  FROM (SELECT DISTINCT * FROM reqs0) d
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY blockId
         |    ORDER BY newGenStamp DESC, closeFile DESC, deleteBlock DESC,
         |             targets DESC) = 1),
         |flagRows AS (
         |$BlockSyncFlagRowsSql),
         |blockAug AS (
         |  SELECT id, datanodeId, length, generationStamp, fileId, fileIndex,
         |         version FROM block
         |  UNION ALL
         |  SELECT id, datanodeId, length, generationStamp, fileId, fileIndex,
         |         version FROM flagRows),
         |liveB AS (SELECT * FROM blockAug WHERE version > 0),
         |meta AS (
         |  SELECT b.id AS mb, MAX(b.fileId) AS mfid, MAX(b.fileIndex) AS midx,
         |    MAX(CASE WHEN b.datanodeId = 0 THEN 1 ELSE 0 END) AS hasFlag
         |  FROM liveB b JOIN reqs r ON b.id = r.blockId GROUP BY b.id),
         |classified AS (
         |  SELECT r.*, m.mb, m.mfid, m.midx, m.hasFlag,
         |    f.id AS fbid, f.leaseHolder AS flh, f.version AS fbver,
         |    CASE WHEN m.mb IS NULL THEN 'block not found'
         |         WHEN f.id IS NULL THEN 'file not found'
         |         WHEN f.leaseHolder IS NULL THEN 'file not under construction'
         |    END AS reject
         |  FROM reqs r
         |  LEFT JOIN meta m ON r.blockId = m.mb
         |  LEFT JOIN (SELECT * FROM file WHERE version > 0) f ON m.mfid = f.id),
         |good AS (SELECT * FROM classified WHERE reject IS NULL),
         |vt AS (
         |  SELECT DISTINCT g.blockId, g.newGenStamp, g.mfid, g.midx,
         |    UNNEST(g.targets) AS tgt
         |  FROM good g WHERE NOT g.deleteBlock),
         |valid AS (
         |  SELECT vt.* FROM vt
         |  JOIN (SELECT id FROM datanode WHERE version > 0) d ON vt.tgt = d.id),
         |nv AS (SELECT blockId, COUNT(*) AS nValid FROM valid GROUP BY blockId),
         |gf AS (
         |  SELECT g.*, COALESCE(nv.nValid, 0) AS nValid FROM good g
         |  LEFT JOIN nv ON g.blockId = nv.blockId),
         |insertKeys AS (
         |  SELECT blockId, tgt AS datanodeId, newGenStamp, mfid, midx FROM valid
         |  UNION ALL
         |  SELECT blockId, CAST(0 AS BIGINT), newGenStamp, mfid, midx FROM gf
         |  WHERE NOT deleteBlock AND nValid = 0 AND hasFlag = 0),
         |ins AS (
         |  SELECT 'insert' AS writeOp, 'block' AS tbl, blockId AS id,
         |    datanodeId, CAST(-1 AS BIGINT) AS length,
         |    newGenStamp AS generationStamp, mfid AS fileId, midx AS fileIndex,
         |    $BlockSyncVersionBaseSql + ROW_NUMBER()
         |      OVER (ORDER BY blockId, datanodeId) AS version,
         |    CAST(NULL AS STRING) AS reject
         |  FROM insertKeys),
         |tombs AS (
         |  SELECT 'tombstone' AS writeOp, 'block' AS tbl, b.id, b.datanodeId,
         |    b.length, b.generationStamp, b.fileId, b.fileIndex,
         |    -b.version AS version, CAST(NULL AS STRING) AS reject
         |  FROM liveB b JOIN gf g ON b.id = g.blockId
         |  WHERE g.deleteBlock OR b.datanodeId <> 0
         |     OR (b.datanodeId = 0 AND g.nValid > 0)),
         |aff AS (SELECT DISTINCT mfid AS cf, fbver FROM good WHERE closeFile),
         |post AS (
         |  SELECT b.id, b.fileId, b.fileIndex, b.length, b.generationStamp,
         |    b.version
         |  FROM liveB b JOIN aff ON b.fileId = aff.cf
         |  WHERE NOT EXISTS (SELECT 1 FROM tombs t
         |                    WHERE t.id = b.id AND t.datanodeId = b.datanodeId)
         |  UNION ALL
         |  SELECT i.id, i.fileId, i.fileIndex, i.length, i.generationStamp,
         |    i.version
         |  FROM ins i JOIN aff ON i.fileId = aff.cf),
         |pent AS (
         |${primaryEntriesSql("post")}),
         |totals AS (
         |  SELECT fileId, SUM(CASE WHEN primLen > 0 THEN primLen ELSE 0 END)
         |    AS tot
         |  FROM pent GROUP BY fileId),
         |fin AS (
         |  SELECT 'finalize' AS writeOp, 'file' AS tbl, a.cf AS id,
         |    CAST(NULL AS BIGINT) AS datanodeId,
         |    CAST(COALESCE(t.tot, 0) AS BIGINT) AS length,
         |    CAST(NULL AS BIGINT) AS generationStamp, a.cf AS fileId,
         |    CAST(NULL AS BIGINT) AS fileIndex, a.fbver + 1 AS version,
         |    CAST(NULL AS STRING) AS reject
         |  FROM aff a LEFT JOIN totals t ON a.cf = t.fileId),
         |rej AS (
         |  SELECT 'reject' AS writeOp, 'block' AS tbl, blockId AS id,
         |    CAST(NULL AS BIGINT) AS datanodeId, CAST(NULL AS BIGINT) AS length,
         |    newGenStamp AS generationStamp, mfid AS fileId,
         |    CAST(NULL AS BIGINT) AS fileIndex, CAST(0 AS BIGINT) AS version,
         |    reject
         |  FROM classified WHERE reject IS NOT NULL)
         |SELECT * FROM (
         |  SELECT * FROM tombs UNION ALL SELECT * FROM ins
         |  UNION ALL SELECT * FROM fin UNION ALL SELECT * FROM rej)
         |ORDER BY writeOp, id, datanodeId""".stripMargin), materializeOracle = true),
    // S17/N9: datanode re-registration — same storageId under a new id
    // evicts the old row
    GateEntry("s17_datanode_upsert", { (s, dir) =>
      DerivedState.register(s, dir)
      val regs = s.sql(
        """SELECT CAST(id + 100 AS BIGINT) AS id, name, storageId,
          |       ipcPort, infoPort, capacity, dfsUsed, remaining,
          |       CAST(1700000000000 AS BIGINT) AS lastUpdated,
          |       xceiverCount, location, adminState,
          |       CAST(version + 1000 AS BIGINT) AS version
          |FROM datanode WHERE id % 5 = 0""".stripMargin)
      Mutations.datanodeUpsert(s.table("datanode"), regs)
        .select(col("id"), col("storageId"), col("lastUpdated"), col("version"))
        .orderBy(col("id"))
    }, O(
      """WITH regs AS (
        |  SELECT CAST(id + 100 AS BIGINT) AS id, name, storageId,
        |         ipcPort, infoPort, capacity, dfsUsed, remaining,
        |         CAST(1700000000000 AS BIGINT) AS lastUpdated,
        |         xceiverCount, location, adminState,
        |         CAST(version + 1000 AS BIGINT) AS version
        |  FROM datanode WHERE id % 5 = 0)
        |SELECT id, storageId, lastUpdated, version FROM (
        |  SELECT d.id, d.storageId, d.lastUpdated, d.version FROM datanode d
        |  WHERE d.version > 0
        |    AND d.id NOT IN (SELECT id FROM regs)
        |    AND d.storageId NOT IN (SELECT storageId FROM regs)
        |  UNION ALL
        |  SELECT id, storageId, lastUpdated, version FROM regs) u
        |ORDER BY id""".stripMargin)),
  )

  /** startFile request mix (runs verbatim in both engines): fresh names
    * (ok), existing files with/without overwrite, customer DIRS as
    * targets, under-construction files (o_orderkey%50=0 carry a holder).
    * o_orderkey%97=0 targets are tombstoned → live lookup misses → plain
    * insert, exercising the recreate-over-tombstone path. */
  private val startFileReqsSql: String =
    """SELECT CAST(100 + o_custkey AS BIGINT) AS parentId,
      |       'newf_' || CAST(o_orderkey AS STRING) AS name,
      |       'h_' || CAST(o_custkey % 100 AS STRING) AS holder,
      |       FALSE AS overwrite
      |FROM orders WHERE o_orderkey % 200 = 0
      |UNION ALL
      |SELECT CAST(100 + o_custkey AS BIGINT), 'o_' || CAST(o_orderkey AS STRING),
      |       'h_ow', TRUE
      |FROM orders WHERE o_orderkey % 301 = 0
      |UNION ALL
      |SELECT CAST(100 + o_custkey AS BIGINT), 'o_' || CAST(o_orderkey AS STRING),
      |       'h_no', FALSE
      |FROM orders WHERE o_orderkey % 703 = 0
      |UNION ALL
      |SELECT CAST(1 + c_nationkey AS BIGINT), 'c_' || CAST(c_custkey AS STRING),
      |       'h_dir', FALSE
      |FROM customer WHERE c_custkey % 500 = 0""".stripMargin

  /** put request mix (runs verbatim in both engines): multi-block files
    * (block-aligned + ragged tails), zero-length files (no block rows),
    * and a parent-not-found reject batch. Lengths are derived so the
    * last-block arithmetic sees both the exact-multiple and the partial
    * case. */
  private val putReqsSql: String =
    """SELECT CAST(100 + o_custkey AS BIGINT) AS parentId,
      |       'put_' || CAST(o_orderkey AS STRING) AS name,
      |       'h_put' AS holder,
      |       CAST((o_orderkey % 4) * 67108864 + (o_orderkey % 7777) * 1000
      |            AS BIGINT) AS fileLength
      |FROM orders WHERE o_orderkey % 401 = 0
      |UNION ALL
      |SELECT CAST(100 + o_custkey AS BIGINT), 'putz_' || CAST(o_orderkey AS STRING),
      |       'h_put', CAST(0 AS BIGINT)
      |FROM orders WHERE o_orderkey % 1103 = 0
      |UNION ALL
      |SELECT CAST(100 + o_custkey AS BIGINT), 'pute_' || CAST(o_orderkey AS STRING),
      |       'h_put', CAST(((o_custkey % 3) + 1) * 67108864 AS BIGINT)
      |FROM orders WHERE o_orderkey % 907 = 0
      |UNION ALL
      |SELECT CAST(999999999 AS BIGINT), 'nope_' || CAST(c_custkey AS STRING),
      |       'h_put', CAST(5 AS BIGINT)
      |FROM customer WHERE c_custkey % 700 = 0""".stripMargin

  /** append request mix (runs verbatim in both engines): existing order
    * files (o%101=0 — some under construction at lcm(101,50), some
    * tombstoned at lcm(101,97) → live lookup misses → 'file not found'),
    * customer DIRS, genuinely missing names, plus a second holder for
    * every o%202=0 target (⊂ the o%101 set) exercising the
    * duplicate-in-batch → 'file under construction' path. */
  private val appendReqsSql: String =
    """SELECT CAST(100 + o_custkey AS BIGINT) AS parentId,
      |       'o_' || CAST(o_orderkey AS STRING) AS name,
      |       'ha_' || CAST(o_custkey % 50 AS STRING) AS holder
      |FROM orders WHERE o_orderkey % 101 = 0
      |UNION ALL
      |SELECT CAST(1 + c_nationkey AS BIGINT), 'c_' || CAST(c_custkey AS STRING),
      |       'ha_dir'
      |FROM customer WHERE c_custkey % 400 = 0
      |UNION ALL
      |SELECT CAST(100 + o_custkey AS BIGINT), 'missing_' || CAST(o_orderkey AS STRING),
      |       'ha_miss'
      |FROM orders WHERE o_orderkey % 997 = 0
      |UNION ALL
      |SELECT CAST(100 + o_custkey AS BIGINT), 'o_' || CAST(o_orderkey AS STRING),
      |       'hb_' || CAST(o_orderkey % 7 AS STRING)
      |FROM orders WHERE o_orderkey % 202 = 0""".stripMargin

  /** abandonBlock request mix (runs verbatim in both engines): the first
    * block of every 4th under-construction file abandoned by its own
    * holder, one wrong-holder, one completed file, one directory, one
    * phantom file and one null holder. */
  private val abandonReqsSql: String =
    """SELECT f.id AS fileId, m.blockId, f.leaseHolder AS holder
      |FROM file f LEFT JOIN (SELECT fileId AS mfid, MIN(id) AS blockId
      |                       FROM block WHERE version > 0
      |                       GROUP BY fileId) m ON m.mfid = f.id
      |WHERE f.version > 0 AND f.leaseHolder IS NOT NULL AND f.id % 4 = 1
      |UNION ALL
      |SELECT f.id, m.blockId, 'wrong_holder'
      |FROM file f LEFT JOIN (SELECT fileId AS mfid, MIN(id) AS blockId
      |                       FROM block WHERE version > 0
      |                       GROUP BY fileId) m ON m.mfid = f.id
      |WHERE f.version > 0 AND f.leaseHolder IS NOT NULL AND f.id % 4 = 2
      |UNION ALL
      |SELECT MIN(f.id), CAST(NULL AS BIGINT), 'h'
      |FROM file f
      |WHERE f.version > 0 AND f.leaseHolder IS NULL AND f.length >= 0
      |UNION ALL
      |SELECT CAST(5 AS BIGINT), CAST(NULL AS BIGINT), 'h'
      |UNION ALL
      |SELECT CAST(99999999 AS BIGINT), CAST(NULL AS BIGINT), 'h'
      |UNION ALL
      |SELECT MIN(f.id), CAST(NULL AS BIGINT), CAST(NULL AS STRING)
      |FROM file f
      |WHERE f.version > 0 AND f.leaseHolder IS NOT NULL""".stripMargin

  /** trash request mix (runs verbatim in both engines): order files
    * outside nation 13, customer dirs of nation 13 (disjoint subtrees —
    * see n_trash), the root (container guard), a phantom id, and one
    * tombstoned order file (%97-deleted → "no such file"). */
  private val trashReqsSql: String =
    """SELECT CAST(1000000 + o_orderkey AS BIGINT) AS id
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderkey % 211 = 3 AND o_orderkey % 97 <> 0
      |  AND c_nationkey <> 13
      |UNION ALL
      |SELECT CAST(100 + c_custkey AS BIGINT) FROM customer
      |WHERE c_nationkey = 13 AND c_custkey % 40 = 1
      |UNION ALL SELECT CAST(0 AS BIGINT)
      |UNION ALL SELECT CAST(99999999 AS BIGINT)
      |UNION ALL
      |SELECT CAST(1000000 + MIN(o_orderkey) AS BIGINT)
      |FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey > 0""".stripMargin

  /** decommission request mix (runs verbatim in both engines): start on
    * every id%5=2 node — node 17 is already DECOMMISSIONED so the :3183
    * skip branch drops it — plus stop on 34 (decommissioned → NORMAL) and
    * 38 (in-progress → NORMAL); node 19 stays in-progress → re-checked. */
  private val decommissionReqsSql: String =
    """SELECT id AS nodeId, 'start' AS op FROM datanode
      |WHERE version > 0 AND id % 5 = 2
      |UNION ALL SELECT CAST(34 AS BIGINT), 'stop'
      |UNION ALL SELECT CAST(38 AS BIGINT), 'stop'""".stripMargin

  /** cp request mix (runs verbatim in both engines): recursive copies of
    * every 5th customer dir of nation 9 (order files + their blocks come
    * along), a missing source, a name collision under nation dir 6, a
    * TOMBSTONED destination parent (order 0 is %97-deleted → not found),
    * a live FILE as the destination parent, and nation dir 2 copied into
    * one of its own customer subdirs (FileUtil.checkDependencies). */
  private val copyReqsSql: String =
    """SELECT CAST(100 + c_custkey AS BIGINT) AS srcId,
      |       CAST(6 AS BIGINT) AS dstParentId,
      |       'cp_' || CAST(c_custkey AS STRING) AS newName
      |FROM customer WHERE c_nationkey = 9 AND c_custkey % 5 = 0
      |UNION ALL
      |SELECT CAST(99999999 AS BIGINT), CAST(6 AS BIGINT), 'cp_missing'
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(6 AS BIGINT),
      |       'c_' || CAST(MIN(c_custkey) AS STRING)
      |FROM customer WHERE c_nationkey = 5
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), CAST(1000000 + MIN(o_orderkey) AS BIGINT), 'x'
      |FROM orders
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), CAST(1000000 + MIN(o_orderkey) AS BIGINT), 'y'
      |FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey > 0
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(100 + MIN(c_custkey) AS BIGINT), 'loop'
      |FROM customer WHERE c_nationkey = 1""".stripMargin

  private val O = DerivedState.oracle _
}
