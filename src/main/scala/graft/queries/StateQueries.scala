package graft.queries

import org.apache.spark.sql.functions._

import graft.GateEntry
import graft.model.DerivedState
import graft.state.StateManager
import graft.store.{Comparator, IndexDef, KeyedCache, PostGt, PostIsNull, PostNot, StateStore}

/** Gate entries ([[graft.GateEntry]]) for the table-store algebra (SURVEY §2.1,
  * P1-P9), the repository layer (§2.2, R1-R16) and the StateManager layer
  * (§2.3, S1-S17), each exercised on the derived state tables so the
  * DuckDB oracle replays the identical semantics. */
object StateQueries {

  private val Now = DerivedState.NowMs
  private val PidName = IndexDef("PID_NAME", Seq("parentId", "name"), unique = true)
  private val Primary = IndexDef("PRIMARY", Seq("id"), unique = true)

  def entries: Seq[GateEntry] = Seq(
    // P1: indexed range find with comparator + limit + offset
    GateEntry("p1_indexed_find", { (s, dir) =>
      StateStore.find(DerivedState.file(s, dir), Primary, Seq(1000000L),
          Comparator.GT, limit = 100, offset = 10)
        .select(col("id"), col("parentId"), col("name"), col("length"),
          col("replication"), col("version"))
    }, O(
      """SELECT id, parentId, name, length, replication, version
        |FROM file WHERE id > 1000000 ORDER BY id LIMIT 100 OFFSET 10""".stripMargin)),
    // P1 composite-prefix: all children of one parent via PID_NAME prefix
    GateEntry("p1_prefix_find", { (s, dir) =>
      StateStore.find(DerivedState.file(s, dir), PidName, Seq(0L), Comparator.EQ)
        .select(col("id"), col("name"), col("length")).orderBy(col("id"))
    }, O(
      """SELECT id, name, length FROM file WHERE parentId = 0 ORDER BY id""".stripMargin)),
    // P5/S16/R8: table counts
    GateEntry("p5_count", { (s, dir) =>
      DerivedState.register(s, dir)
      val t = (n: String) => s.table(n).agg(lit(n).as("tbl"), count(lit(1)).as("n"))
      t("file").unionByName(t("block")).unionByName(t("datanode"))
        .unionByName(t("lease")).orderBy(col("tbl"))
    }, O(
      """SELECT tbl, n FROM (
        |  SELECT 'file' AS tbl, COUNT(*) AS n FROM file UNION ALL
        |  SELECT 'block', COUNT(*) FROM block UNION ALL
        |  SELECT 'datanode', COUNT(*) FROM datanode UNION ALL
        |  SELECT 'lease', COUNT(*) FROM lease) u ORDER BY tbl""".stripMargin)),
    // P2: batch insert with duplicate-key detection (PRIMARY uniqueness)
    GateEntry("p2_insert", { (s, dir) =>
      DerivedState.register(s, dir)
      val cand = s.sql(
        """SELECT 'h_' || CAST(i * 3 AS STRING) AS holder,
          |       CAST(1700000100000 AS BIGINT) AS leaseTime,
          |       CAST(500 + i AS BIGINT) AS version
          |FROM range(0, 50) AS t(i)""".stripMargin)
      val existing = StateStore.live(s.table("lease"))
        .select(col("holder").as("__h"))
      cand.join(existing, col("holder") === col("__h"), "left")
        .withColumn("accepted", col("__h").isNull)
        .select(col("holder"), col("accepted"))
        .orderBy(col("holder"))
    }, O(
      """SELECT c.holder, l.holder IS NULL AS accepted
        |FROM (SELECT 'h_' || CAST(i * 3 AS STRING) AS holder
        |      FROM range(0, 50) AS t(i)) c
        |LEFT JOIN lease l ON l.holder = c.holder AND l.version > 0
        |ORDER BY c.holder""".stripMargin)),
    // P4/R5: keyed delete → tombstone write-set
    GateEntry("p4_delete", { (s, dir) =>
      val dn = DerivedState.datanode(s, dir)
      StateStore.softDelete(dn, col("location") === "/rack0")
        .select(col("id"), col("location"), col("version"))
        .orderBy(col("id"))
    }, O(
      """SELECT id, location,
        |  CASE WHEN location = '/rack0' AND version > 0 THEN 0 - version
        |       ELSE version END AS version
        |FROM datanode ORDER BY id""".stripMargin)),
    // P7: TDHS DSL — index IN + post-filters (field NOT / GT / isNull) + limit
    GateEntry("p7_tdhs_dsl", { (s, dir) =>
      val found = StateStore.find(DerivedState.file(s, dir), PidName,
        (101L to 110L).toSeq, Comparator.IN)
      StateStore.postFilter(found,
          Seq(PostNot("replication", 1L), PostGt("length", 50000L), PostIsNull("leaseHolder")))
        .select(col("id"), col("parentId"), col("name"), col("length"), col("replication"))
        .orderBy(col("id")).limit(200)
    }, O(
      """SELECT id, parentId, name, length, replication FROM file
        |WHERE parentId IN (101,102,103,104,105,106,107,108,109,110)
        |  AND replication <> 1 AND length > 50000 AND leaseHolder IS NULL
        |ORDER BY id LIMIT 200""".stripMargin)),
    // P8: update SET expressions (assign/add/now) as masked column merge
    GateEntry("p8_update_set", { (s, dir) =>
      val lease = DerivedState.lease(s, dir)
      StateStore.update(lease,
          col("leaseTime") < Now - 3600000L,
          Map("leaseTime" -> StateStore.SetNow,
              "version" -> StateStore.Add(1000L)),
          nowMs = Now)
        .select(col("holder"), col("leaseTime"), col("version"))
        .orderBy(col("holder"))
    }, O(
      """SELECT holder,
        |  CASE WHEN leaseTime < 1700000000000 - 3600000 THEN 1700000000000 ELSE leaseTime END AS leaseTime,
        |  CASE WHEN leaseTime < 1700000000000 - 3600000 THEN version + 1000 ELSE version END AS version
        |FROM lease ORDER BY holder""".stripMargin)),
    // P3: UPDATE ... WHERE idx cmp ? LIMIT n — only the first n matches
    // (in index order) are written
    GateEntry("p3_update_limited", { (s, dir) =>
      val lease = DerivedState.lease(s, dir)
      StateStore.updateLimited(lease,
          IndexDef("TIME", Seq("leaseTime")), Seq(Now - 3600000L),
          Comparator.LT,
          Map("version" -> StateStore.Add(5000L)),
          nowMs = Now, limit = 10, tieBreak = Seq("holder"))
        .select(col("holder"), col("leaseTime"), col("version"))
        .orderBy(col("holder"))
    }, O(
      """SELECT holder, leaseTime,
        |  CASE WHEN leaseTime < 1700000000000 - 3600000 AND rk <= 10
        |       THEN version + 5000 ELSE version END AS version
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY
        |    CASE WHEN leaseTime < 1700000000000 - 3600000 THEN 0 ELSE 1 END,
        |    leaseTime, holder) AS rk
        |  FROM lease) t
        |ORDER BY holder""".stripMargin)),
    // R5: tombstone read discipline — live rows only
    GateEntry("r5_tombstone_read", { (s, dir) =>
      val f = DerivedState.file(s, dir)
      StateStore.live(f).agg(
        count(when(col("length") === -1L, 1)).as("liveDirs"),
        count(when(col("length") =!= -1L, 1)).as("liveFiles"),
        sum(when(col("length") > 0, col("length")).otherwise(0L)).as("liveBytes"))
        .crossJoin(f.filter(col("version") < 0).agg(count(lit(1)).as("tombstones")))
    }, O(
      """SELECT
        |  (SELECT COUNT(*) FROM file WHERE version > 0 AND length = -1) AS liveDirs,
        |  (SELECT COUNT(*) FROM file WHERE version > 0 AND length <> -1) AS liveFiles,
        |  (SELECT CAST(SUM(CASE WHEN length > 0 THEN length ELSE 0 END) AS BIGINT) FROM file WHERE version > 0) AS liveBytes,
        |  (SELECT COUNT(*) FROM file WHERE version < 0) AS tombstones""".stripMargin)),
    // R6: incremental version-range scan (the replication feed). The
    // threshold sits INSIDE the derived version range (file versions
    // reach ~1.01M at sf0.01, ~4M at sf0.1) so the page is non-empty and
    // the limit-500 pagination is actually exercised at the correctness SF.
    GateEntry("r6_version_scan", { (s, dir) =>
      StateStore.versionsGreaterThan(DerivedState.file(s, dir), 1000000L, 500)
        .select(col("id"), col("name"), col("version"))
    }, O(
      """SELECT id, name, version FROM file WHERE ABS(version) > 1000000
        |ORDER BY ABS(version) LIMIT 500""".stripMargin)),
    // R6b: TIME TRAVEL over the version algebra — the live file state
    // as of version 1M (inside the derived range at every SF): drop ops
    // newer than v, latest-wins replay, drop tombstones. D4's full-sync
    // snapshot generalized to any point in version history; one key
    // shuffle.
    GateEntry("r6b_snapshot_asof", { (s, dir) =>
      StateStore.snapshotAsOf(DerivedState.file(s, dir), Seq("id"), 1000000L)
        .select(col("id"), col("name"), col("version"))
        .orderBy(col("id"))
    }, O(
      """SELECT id, name, version FROM (
        |  SELECT id, name, version, ROW_NUMBER() OVER (
        |    PARTITION BY id ORDER BY ABS(version) DESC, version DESC) AS rk
        |  FROM file WHERE ABS(version) <= 1000000) t
        |WHERE rk = 1 AND version > 0
        |ORDER BY id""".stripMargin)),
    // R6c: CDC diff between two snapshot versions over the ops feed —
    // insert/delete/update per key, one conditional-max_by aggregation
    // (a single key shuffle where two replays + a join would pay three)
    GateEntry("r6c_snapshot_diff", { (s, dir) =>
      DerivedState.register(s, dir)
      val hist = s.table("ops").select(col("opKey").as("id"),
        col("payload"), col("opVersion").as("version"))
      StateStore.snapshotDiff(hist, Seq("id"), v1 = 30L, v2 = 300L)
        .select(col("id"), col("changeType"),
          col("before.payload").as("beforePayload"),
          col("before.version").as("beforeVersion"),
          col("after.payload").as("afterPayload"),
          col("after.version").as("afterVersion"))
        .orderBy(col("id"))
    }, O(
      """WITH sd_h AS (
        |  SELECT opKey AS id, payload, opVersion AS version FROM ops
        |  WHERE ABS(opVersion) <= 300),
        |sd_b AS (
        |  SELECT id, payload, version FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id
        |      ORDER BY ABS(version) DESC, version DESC) AS rk
        |    FROM sd_h WHERE ABS(version) <= 30) t
        |  WHERE rk = 1 AND version > 0),
        |sd_a AS (
        |  SELECT id, payload, version FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id
        |      ORDER BY ABS(version) DESC, version DESC) AS rk
        |    FROM sd_h) t
        |  WHERE rk = 1 AND version > 0)
        |SELECT COALESCE(b.id, a.id) AS id,
        |  CASE WHEN b.id IS NULL THEN 'insert'
        |       WHEN a.id IS NULL THEN 'delete'
        |       ELSE 'update' END AS changeType,
        |  b.payload AS beforePayload, b.version AS beforeVersion,
        |  a.payload AS afterPayload, a.version AS afterVersion
        |FROM sd_b b FULL OUTER JOIN sd_a a ON b.id = a.id
        |WHERE b.id IS NULL OR a.id IS NULL
        |   OR b.payload <> a.payload OR b.version <> a.version
        |ORDER BY id""".stripMargin)),
    // R1: the keyed point-lookup cache driven through a deterministic
    // probe/invalidate script (R1ProbeSql, both dialects) against the
    // datanode dimension. The REAL cache machinery answers every probe
    // and reports where the answer came from; the oracle reconstructs
    // the mandated outcome from the script alone — same-generation
    // re-probe = hit (including NEGATIVE hits on keys 41-50, which
    // don't exist), first probe or post-invalidate re-probe = miss.
    // A cache that failed to populate, to short-circuit, to cache
    // absence, or to honor invalidation diverges immediately.
    GateEntry("r1_cache", { (s, dir) =>
      import s.implicits._
      DerivedState.register(s, dir)
      // examined r20, left alone WITH DATA: the line is ~35 sequential
      // miss-lookup jobs (one per scripted miss) at ~0.1-0.15 s of job
      // overhead each — the one-at-a-time shape IS the contract (the
      // differential gate replays an interactive probe stream; batching
      // the misses into one job would stop exercising the per-probe
      // machinery). Pinning the snapshot (localCheckpoint) was TRIED and
      // measured WORSE (min 7.3 s vs 5.0 s at sf0.1): the point filter
      // over the checkpointed RDD loses the trivially-planned derivation
      // scan and executeTake probes partition waves instead.
      val cache = new KeyedCache(StateStore.live(s.table("datanode")), "id")
      val probes = s.sql(R1ProbeSql).orderBy(col("seq")).collect()
      val rows = probes.toSeq.flatMap { p =>
        val seq = p.getAs[Long]("seq")
        val key = p.getAs[Long]("key")
        if (p.getAs[String]("action") == "invalidate") { cache.invalidate(key); None }
        else {
          val (hit, v) = cache.probe(key)
          Some((seq, key, if (hit) "hit" else "miss", v.isDefined,
            v.map(_.getAs[String]("location")).orNull,
            v.map(_.getAs[Long]("version"))))
        }
      }
      rows.toDF("seq", "key", "outcome", "found", "location", "version")
        .orderBy(col("seq"))
    }, O(
      s"""WITH r1_probes AS (
        |$R1ProbeSql),
        |r1_gen AS (
        |  SELECT seq, action, key,
        |    SUM(CASE WHEN action = 'invalidate' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY key ORDER BY seq
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gen
        |  FROM r1_probes),
        |r1_out AS (
        |  SELECT seq, key,
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY key, gen ORDER BY seq) > 1
        |         THEN 'hit' ELSE 'miss' END AS outcome
        |  FROM r1_gen WHERE action = 'get')
        |SELECT o.seq, o.key, o.outcome, d.id IS NOT NULL AS found,
        |       d.location, d.version
        |FROM r1_out o LEFT JOIN datanode d ON d.id = o.key AND d.version > 0
        |ORDER BY o.seq""".stripMargin)),
    // D10: the operator-latency metrics table, driven through the REAL
    // QueryExecutionListener machinery on a fresh child session: a
    // scripted 3×count / 2×collect / 1×failing collect must surface as
    // exactly the mandated (action, n, failures) rows — durations are
    // real but nondeterministic, so the gate pins the deterministic
    // projection and the spec covers the rest. A recorder that dropped
    // events, double-counted, or filed the failure under success
    // diverges. The projection filters to the SCRIPTED action families:
    // the child session's listener bus is async, so register-time view
    // COMMANDS posted before attach can still be in flight and deliver
    // to the late-attached recorder when the JVM's bus is backed up (it
    // is, at the end of a 214-query gate run) — count(≥ the scripted 6)
    // below tolerates those extras, and the filter keeps them out of
    // the pinned rows.
    GateEntry("d10_metrics", { (s, dir) =>
      val s2 = s.newSession()
      DerivedState.register(s2, dir)
      val rec = graft.core.Metrics.attach(s2)
      val dn = s2.table("datanode")
      dn.count(); dn.count(); dn.count()
      dn.limit(5).collect(); dn.limit(5).collect()
      try s2.sql("SELECT assert_true(false)").collect()
      catch { case _: Throwable => () }
      // the listener bus delivers asynchronously — poll for the 6
      // scripted events (extras from the pre-attach race may also land)
      def scripted() = rec.snapshot.count(m =>
        m.action == "count" || m.action == "collect")
      var tries = 0
      while (scripted() < 6 && tries < 100) { Thread.sleep(100); tries += 1 }
      graft.core.Metrics.asDataFrame(s, rec)
        .filter(col("action").isin("count", "collect"))
        .select(col("action"), col("n"), col("failures"))
        .orderBy(col("action"))
    }, O(
      """SELECT action, n, failures FROM (VALUES
        |  ('collect', CAST(3 AS BIGINT), CAST(1 AS BIGINT)),
        |  ('count',   CAST(3 AS BIGINT), CAST(0 AS BIGINT)))
        |  AS t(action, n, failures)
        |ORDER BY action""".stripMargin)),
    // D3: the version/tombstone algebra and datanode id bit-packing as
    // data — per-key live/order/tombstone aggregates over the ops feed
    // (live = version > 0, order = abs, tombstone = -abs), joined to an
    // ip:port <-> id packing table built through the REAL DatanodeId.pack/ip/port functions
    // (bounded node dimension, driver-side); the oracle replays the
    // bit math — a packing that dropped or misplaced a field diverges
    GateEntry("d3_version_ids", { (s, dir) =>
      import s.implicits._
      DerivedState.register(s, dir)
      val alg = s.table("ops").select(col("opKey"), col("opVersion"))
        .groupBy(col("opKey"))
        .agg(count(when(col("opVersion") > 0, 1)).as("liveOps"),
          max(abs(col("opVersion"))).as("maxOrd"),
          min(-abs(col("opVersion"))).as("minTomb"))
      val ids = (1 to 40).map { n =>
        val packed = graft.model.DatanodeId.pack(s"10.0.0.$n", 50010)
        (n.toLong, packed, graft.model.DatanodeId.ip(packed),
          graft.model.DatanodeId.port(packed).toLong)
      }.toDF("nodeNum", "packed", "ipBack", "portBack")
      alg.join(broadcast(ids), col("opKey") % 40 + 1 === col("nodeNum"))
        .select(col("opKey"), col("liveOps"), col("maxOrd"), col("minTomb"),
          col("nodeNum"), col("packed"), col("ipBack"), col("portBack"))
        .orderBy(col("opKey"))
    }, O(
      """WITH d3_alg AS (
        |  SELECT opKey, COUNT(CASE WHEN opVersion > 0 THEN 1 END) AS liveOps,
        |    MAX(ABS(opVersion)) AS maxOrd, MIN(-ABS(opVersion)) AS minTomb
        |  FROM ops GROUP BY opKey),
        |d3_ids AS (
        |  SELECT CAST(i AS BIGINT) AS nodeNum,
        |    CAST((10 * 16777216 + i) * 4294967296 + 50010 AS BIGINT) AS packed,
        |    '10.0.0.' || CAST(i AS VARCHAR) AS ipBack,
        |    CAST(50010 AS BIGINT) AS portBack
        |  FROM range(1, 41) AS t(i))
        |SELECT a.opKey, a.liveOps, a.maxOrd, a.minTomb,
        |       d.nodeNum, d.packed, d.ipBack, d.portBack
        |FROM d3_alg a JOIN d3_ids d ON a.opKey % 40 + 1 = d.nodeNum
        |ORDER BY a.opKey""".stripMargin)),
    // D8: the single-writer mini-MVCC commit discipline — two
    // SEQUENTIAL write-sets through the real applyWriteSet (the second
    // replaces half of the first's keys and adds its own):
    // last-writer-wins per key, untouched rows pass through verbatim
    GateEntry("d8_writeset_commit", { (s, dir) =>
      DerivedState.register(s, dir)
      val f = s.table("file")
      def ws(tag: Long, pred: org.apache.spark.sql.Column) =
        f.filter(pred).withColumn("owner", lit(tag))
          .withColumn("version", col("version") + 1000000000L)
      val after1 = graft.state.Mutations.applyWriteSet(f,
        ws(777L, col("id") % 100 === 7L), Seq("id"))
      val after2 = graft.state.Mutations.applyWriteSet(after1,
        ws(888L, col("id") % 200 === 7L || col("id") % 100 === 13L), Seq("id"))
      after2.groupBy(col("owner"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("idSum"),
          sum(col("version")).as("vSum"))
        .orderBy(col("owner"))
    }, O(
      """SELECT owner, COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS idSum,
        |  CAST(SUM(version) AS BIGINT) AS vSum
        |FROM (
        |  SELECT id,
        |    CASE WHEN id % 200 = 7 OR id % 100 = 13 THEN CAST(888 AS BIGINT)
        |         WHEN id % 100 = 7 THEN CAST(777 AS BIGINT)
        |         ELSE owner END AS owner,
        |    CASE WHEN id % 200 = 7 OR id % 100 = 13 OR id % 100 = 7
        |         THEN version + 1000000000 ELSE version END AS version
        |  FROM file) t
        |GROUP BY owner ORDER BY owner""".stripMargin)),
    // R6d: MVCC history compaction below sync floor 100 over the ops
    // feed — superseded below-floor versions and floor-latest tombstones
    // purge; everything a snapshotAsOf(v >= 100) could observe survives
    // (law-pinned in AlgebraLawsSpec). The compacted history itself is
    // the result, so the oracle re-derives the exact surviving row set.
    GateEntry("r6d_compact", { (s, dir) =>
      DerivedState.register(s, dir)
      val hist = s.table("ops").select(col("opKey").as("id"),
        col("payload"), col("opVersion").as("version"))
      StateStore.compactHistory(hist, Seq("id"), floorV = 100L)
        .orderBy(col("id"), abs(col("version")))
    }, O(
      """WITH rc_h AS (
        |  SELECT opKey AS id, payload, opVersion AS version FROM ops),
        |rc_keep AS (
        |  SELECT id, payload, version FROM rc_h WHERE ABS(version) > 100
        |  UNION ALL
        |  SELECT id, payload, version FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id
        |      ORDER BY ABS(version) DESC, version DESC) AS rk
        |    FROM rc_h WHERE ABS(version) <= 100) t
        |  WHERE rk = 1 AND version > 0)
        |SELECT id, payload, version FROM rc_keep
        |ORDER BY id, ABS(version)""".stripMargin)),
    // R7: max version per table via aggregation (replaces binary search)
    GateEntry("r7_max_version", { (s, dir) =>
      DerivedState.register(s, dir)
      val t = (n: String) =>
        StateStore.maxVersion(s.table(n)).select(lit(n).as("tbl"), col("maxVersion"))
      t("file").unionByName(t("block")).unionByName(t("datanode"))
        .unionByName(t("lease")).orderBy(col("tbl"))
    }, O(
      """SELECT tbl, maxVersion FROM (
        |  SELECT 'file' AS tbl, MAX(ABS(version)) AS maxVersion FROM file UNION ALL
        |  SELECT 'block', MAX(ABS(version)) FROM block UNION ALL
        |  SELECT 'datanode', MAX(ABS(version)) FROM datanode UNION ALL
        |  SELECT 'lease', MAX(ABS(version)) FROM lease) u ORDER BY tbl""".stripMargin)),
    // R9/D1-D4: idempotent latest-abs(version)-wins replay of the ops feed
    GateEntry("r9_replay", { (s, dir) =>
      val ops = DerivedState.ops(s, dir)
        .withColumnRenamed("opVersion", "version")
      StateStore.live(StateStore.latestWins(ops, Seq("opKey")))
        .select(col("opKey"), col("op"), col("version"), col("payload"))
        .orderBy(col("opKey"))
    }, O(R9OracleSql), headline = true),
    // R9/D1: the SAME replay executed by the REAL streaming engine — the
    // ops feed becomes a file stream, flatMapGroupsWithState keeps the
    // per-key latest-wins state (Changefeed.applyOps), and the final
    // per-key state must land on r9_replay's exact oracle
    GateEntry("r9_stream_parity", { (s, dir) =>
      import s.implicits._
      DerivedState.register(s, dir)
      val tmp = graft.core.Caching.scratchDir("r9-stream")
      val feedDir = tmp.resolve("feed").toString
      val feed = s.table("ops")
        .select(col("opKey").as("key"), col("op"),
          col("opVersion").as("version"), col("payload"))
      feed.write.parquet(feedDir)
      val opsStream = s.readStream.schema(feed.schema).parquet(feedDir)
        .as[graft.streaming.Changefeed.Op]
      // the sink holds every state CHANGE across micro-batches; the final
      // state per key is the max-abs(version) row (state only moves toward
      // higher abs version — same tie-break as StateStore.latestWins)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
        .orderBy(abs(col("version")).desc, col("version").desc)
      graft.streaming.Changefeed.drainToMemory(
          graft.streaming.Changefeed.applyOps(s, opsStream).toDF(), "update",
          tmp.resolve("ckpt").toString) { changes =>
        changes
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1 && col("live"))
          .select(col("key").as("opKey"), lit("UPSERT").as("op"),
            col("version"), col("payload"))
          .orderBy(col("opKey"))
      }
    },
      // the streamed replay must land on the identical result
      O(R9OracleSql)),
    // S1: batch path resolution root-down
    GateEntry("s1_path_resolution", { (s, dir) =>
      DerivedState.register(s, dir)
      val reqs = s.sql(
        """SELECT '/n_' || CAST(c_nationkey AS STRING) ||
          |       '/c_' || CAST(o_custkey AS STRING) ||
          |       '/o_' || CAST(o_orderkey AS STRING) AS path
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |WHERE o_orderkey % 500 = 0""".stripMargin)
      StateManager.resolvePaths(s.table("file"), reqs)
        .select(col("path"), col("id"), col("length"), col("version"))
        .orderBy(col("path"))
    }, O(
      """SELECT r.path, f3.id, f3.length, f3.version
        |FROM (SELECT '/n_' || CAST(c_nationkey AS STRING) ||
        |             '/c_' || CAST(o_custkey AS STRING) ||
        |             '/o_' || CAST(o_orderkey AS STRING) AS path,
        |             c_nationkey AS nk, o_custkey AS ck, o_orderkey AS ok
        |      FROM orders JOIN customer ON o_custkey = c_custkey
        |      WHERE o_orderkey % 500 = 0) r
        |JOIN file f1 ON f1.parentId = 0 AND f1.name = 'n_' || CAST(nk AS STRING) AND f1.version > 0
        |JOIN file f2 ON f2.parentId = f1.id AND f2.name = 'c_' || CAST(ck AS STRING) AND f2.version > 0
        |JOIN file f3 ON f3.parentId = f2.id AND f3.name = 'o_' || CAST(ok AS STRING) AND f3.version > 0
        |ORDER BY r.path""".stripMargin), headline = true),
    // S2/F11: materialize every live file's full path (fsimage export)
    GateEntry("s2_paths", { (s, dir) =>
      StateManager.materializePaths(DerivedState.file(s, dir))
        .filter(col("id") % 100 === 0L)
        .select(col("id"), col("path"), col("length"))
        .orderBy(col("id"))
    }, O(
      """SELECT id, path, length FROM (
        |  SELECT id, '' AS path, length FROM file WHERE id = 0 AND version > 0
        |  UNION ALL
        |  SELECT f1.id, '/' || f1.name, f1.length FROM file f1
        |  WHERE f1.parentId = 0 AND f1.id <> 0 AND f1.version > 0
        |  UNION ALL
        |  SELECT f2.id, '/' || f1.name || '/' || f2.name, f2.length
        |  FROM file f1 JOIN file f2 ON f2.parentId = f1.id
        |  WHERE f1.parentId = 0 AND f1.id <> 0 AND f1.version > 0 AND f2.version > 0
        |  UNION ALL
        |  SELECT f3.id, '/' || f1.name || '/' || f2.name || '/' || f3.name, f3.length
        |  FROM file f1 JOIN file f2 ON f2.parentId = f1.id
        |               JOIN file f3 ON f3.parentId = f2.id
        |  WHERE f1.parentId = 0 AND f1.id <> 0 AND f1.version > 0
        |    AND f2.version > 0 AND f3.version > 0) u
        |WHERE id % 100 = 0 ORDER BY id""".stripMargin), headline = true),
    // F11 oiv FileDistribution: file-size histogram, every step-bucket
    // emitted (zeros included), overflow sizes in the last bucket
    GateEntry("f9_file_distribution", { (s, dir) =>
      graft.sources.Formats.fileDistribution(DerivedState.file(s, dir),
        maxSize = 4194304L, step = 65536L)
    }, O(
      """WITH b AS (
        |  SELECT CASE WHEN length > 4194304 THEN 64
        |         ELSE CAST(CEIL(CAST(length AS DOUBLE) / 65536) AS BIGINT)
        |         END AS bucket
        |  FROM file WHERE version > 0 AND length >= 0),
        |g AS (SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket)
        |SELECT CAST(gs.i * 65536 AS BIGINT) AS size,
        |       COALESCE(g.n, 0) AS numFiles
        |FROM (SELECT unnest(range(0, 65)) AS i) gs
        |LEFT JOIN g ON g.bucket = gs.i
        |ORDER BY size""".stripMargin)),
    // F11 oiv Ls visitor: ls-style line per inode (type char, padded
    // replication/user/size, loader-format modTime, path)
    GateEntry("f10_oiv_ls", { (s, dir) =>
      graft.sources.Formats.oivLs(DerivedState.file(s, dir))
        .filter(col("id") % 50 === 0L)
        .orderBy(col("id"))
    }, O(
      """WITH RECURSIVE ox_path AS (
        |  SELECT id, parentId, name, length, replication, owner, mtime,
        |         '' AS path
        |  FROM file WHERE id = 0 AND version > 0
        |  UNION ALL
        |  SELECT f.id, f.parentId, f.name, f.length, f.replication, f.owner,
        |         f.mtime, p.path || '/' || f.name
        |  FROM file f JOIN ox_path p ON f.parentId = p.id
        |  WHERE f.version > 0 AND f.id <> 0),
        |fmt AS (
        |  SELECT id, path,
        |    CASE WHEN replication > 0 THEN CAST(replication AS STRING)
        |         ELSE '-' END AS reps,
        |    CAST(owner AS STRING) AS ownr,
        |    CAST(CASE WHEN length = -1 THEN 0
        |              ELSE GREATEST(length, 0) END AS STRING) AS sz,
        |    length = -1 AS isdir, mtime
        |  FROM ox_path)
        |SELECT id,
        |  CASE WHEN id = 0 THEN '/' ELSE path END AS path,
        |  (CASE WHEN isdir THEN 'd' ELSE '-' END) || ' ' ||
        |  (CASE WHEN length(reps) >= 2 THEN reps ELSE lpad(reps, 2, ' ') END)
        |    || ' ' ||
        |  (CASE WHEN length(ownr) >= 8 THEN ownr ELSE lpad(ownr, 8, ' ') END)
        |    || ' ' ||
        |  lpad('', 10, ' ') || ' ' ||
        |  (CASE WHEN length(sz) >= 10 THEN sz ELSE lpad(sz, 10, ' ') END)
        |    || ' ' ||
        |  strftime(epoch_ms(mtime), '%Y-%m-%d %H:%M') || ' ' ||
        |  CASE WHEN id = 0 THEN '/' ELSE path END AS line
        |FROM fmt WHERE id % 50 = 0
        |ORDER BY id""".stripMargin)),
    // F11 oiv XML visitor: the INODE element per inode — block children
    // in fileIndex order, NUM_BLOCKS attr (−1 for dirs), quota tags
    // exactly when numBlocks ≠ 0, the PERMISSIONS trailer
    GateEntry("f10_oiv_xml", { (s, dir) =>
      DerivedState.register(s, dir)
      graft.sources.Formats.oivXml(s.table("file"), s.table("block"))
        .filter(col("id") % 50 === 0L)
        .orderBy(col("id"))
    }, O(
      """WITH RECURSIVE ox_path AS (
        |  SELECT id, parentId, name, length, replication, owner, mtime,
        |         atime, blockSize, '' AS path
        |  FROM file WHERE id = 0 AND version > 0
        |  UNION ALL
        |  SELECT f.id, f.parentId, f.name, f.length, f.replication, f.owner,
        |         f.mtime, f.atime, f.blockSize, p.path || '/' || f.name
        |  FROM file f JOIN ox_path p ON f.parentId = p.id
        |  WHERE f.version > 0 AND f.id <> 0),
        |ox_pb AS (
        |  SELECT fileId, id AS bid, MAX(fileIndex) AS fi,
        |    ARG_MAX(length, CAST(generationStamp AS HUGEINT)
        |            * 9223372036854775808 + version) AS len,
        |    MAX(generationStamp) AS gs
        |  FROM block WHERE version > 0 GROUP BY fileId, id),
        |ox_bt AS (
        |  SELECT fileId, COUNT(*) AS nb,
        |    string_agg('<BLOCK>' || chr(10) ||
        |      '<BLOCK_ID>' || CAST(bid AS STRING) || '</BLOCK_ID>' || chr(10) ||
        |      '<NUM_BYTES>' || CAST(len AS STRING) || '</NUM_BYTES>' || chr(10) ||
        |      '<GENERATION_STAMP>' || CAST(gs AS STRING) ||
        |      '</GENERATION_STAMP>' || chr(10) || '</BLOCK>' || chr(10),
        |      '' ORDER BY fi, bid, len, gs) AS tags
        |  FROM ox_pb GROUP BY fileId)
        |SELECT p.id,
        |  CASE WHEN p.id = 0 THEN '/' ELSE p.path END AS path,
        |  '<INODE>' || chr(10) ||
        |  '<INODE_PATH>' || p.path || '</INODE_PATH>' || chr(10) ||
        |  '<REPLICATION>' || CAST(p.replication AS STRING) || '</REPLICATION>'
        |    || chr(10) ||
        |  '<MODIFICATION_TIME>' || strftime(epoch_ms(p.mtime), '%Y-%m-%d %H:%M')
        |    || '</MODIFICATION_TIME>' || chr(10) ||
        |  '<ACCESS_TIME>' || strftime(epoch_ms(p.atime), '%Y-%m-%d %H:%M')
        |    || '</ACCESS_TIME>' || chr(10) ||
        |  '<BLOCK_SIZE>' || CAST(p.blockSize AS STRING) || '</BLOCK_SIZE>'
        |    || chr(10) ||
        |  '<BLOCKS NUM_BLOCKS="' ||
        |    CAST(CASE WHEN p.length = -1 THEN -1
        |              ELSE COALESCE(b.nb, 0) END AS STRING) || '">' || chr(10) ||
        |  CASE WHEN p.length = -1 THEN '' ELSE COALESCE(b.tags, '') END ||
        |  '</BLOCKS>' || chr(10) ||
        |  CASE WHEN (CASE WHEN p.length = -1 THEN -1
        |                  ELSE COALESCE(b.nb, 0) END) = 0 THEN ''
        |       ELSE '<NS_QUOTA>-1</NS_QUOTA>' || chr(10) ||
        |            '<DS_QUOTA>-1</DS_QUOTA>' || chr(10) END ||
        |  '<PERMISSIONS>' || chr(10) ||
        |  '<USER_NAME>' || CAST(p.owner AS STRING) || '</USER_NAME>' || chr(10) ||
        |  '<GROUP_NAME></GROUP_NAME>' || chr(10) ||
        |  '<PERMISSION_STRING></PERMISSION_STRING>' || chr(10) ||
        |  '</PERMISSIONS>' || chr(10) || '</INODE>' AS xml
        |FROM ox_path p LEFT JOIN ox_bt b ON p.id = b.fileId
        |WHERE p.id % 50 = 0
        |ORDER BY p.id""".stripMargin)),
    // S1 glob expansion (FileSystem.globStatus / TestGlobPaths):
    // wildcard, ?, brace alternation and a character class over the
    // derived namespace, all patterns in one walk
    GateEntry("s_glob", { (s, dir) =>
      StateManager.resolveGlobs(DerivedState.file(s, dir),
          Seq("/n_*", "/n_1?/c_*00", "/n_{3,7}/c_*5", "/n_2/c_1[0-9]3"))
        .select(col("pattern"), col("path"), col("id"), col("length"))
        .orderBy(col("pattern"), col("path"))
    }, O(
      """SELECT pattern, path, id, length FROM (
        |  SELECT '/n_*' AS pattern, '/' || f1.name AS path, f1.id, f1.length
        |  FROM file f1
        |  WHERE f1.parentId = 0 AND f1.id <> 0 AND f1.version > 0
        |    AND regexp_matches(f1.name, '^n_[^/]*$')
        |  UNION ALL
        |  SELECT '/n_1?/c_*00', '/' || f1.name || '/' || f2.name, f2.id, f2.length
        |  FROM file f1 JOIN file f2 ON f2.parentId = f1.id
        |  WHERE f1.parentId = 0 AND f1.id <> 0 AND f1.version > 0
        |    AND f2.version > 0 AND f2.id <> 0
        |    AND regexp_matches(f1.name, '^n_1[^/]$')
        |    AND regexp_matches(f2.name, '^c_[^/]*00$')
        |  UNION ALL
        |  SELECT '/n_{3,7}/c_*5', '/' || f1.name || '/' || f2.name, f2.id, f2.length
        |  FROM file f1 JOIN file f2 ON f2.parentId = f1.id
        |  WHERE f1.parentId = 0 AND f1.id <> 0 AND f1.version > 0
        |    AND f2.version > 0 AND f2.id <> 0
        |    AND regexp_matches(f1.name, '^n_(3|7)$')
        |    AND regexp_matches(f2.name, '^c_[^/]*5$')
        |  UNION ALL
        |  SELECT '/n_2/c_1[0-9]3', '/' || f1.name || '/' || f2.name, f2.id, f2.length
        |  FROM file f1 JOIN file f2 ON f2.parentId = f1.id
        |  WHERE f1.parentId = 0 AND f1.id <> 0 AND f1.version > 0
        |    AND f2.version > 0 AND f2.id <> 0
        |    AND regexp_matches(f1.name, '^n_2$')
        |    AND regexp_matches(f2.name, '^c_1[0-9]3$')
        |) u ORDER BY pattern, path""".stripMargin)),
    // S3: directory listing with affixed paths
    GateEntry("s3_listing", { (s, dir) =>
      StateManager.listChildren(DerivedState.file(s, dir), parentId = 8L)
        .withColumn("childPath", concat(lit("/n_7/"), col("name")))
        .select(col("id"), col("childPath"), col("length"), col("mtime"))
        .orderBy(col("id"))
    }, O(
      """SELECT id, '/n_7/' || name AS childPath, length, mtime
        |FROM file WHERE parentId = 8 AND id <> 0 AND version > 0 ORDER BY id""".stripMargin)),
    // S4: recursive descendants of a subtree
    GateEntry("s4_descendants", { (s, dir) =>
      StateManager.descendants(DerivedState.file(s, dir), Seq(8L))
        .select(col("id"), col("parentId"), col("name"), col("length"))
        .orderBy(col("id"))
    }, O(
      """SELECT id, parentId, name, length FROM (
        |  SELECT id, parentId, name, length FROM file
        |  WHERE parentId = 8 AND id <> 0 AND version > 0
        |  UNION ALL
        |  SELECT f2.id, f2.parentId, f2.name, f2.length
        |  FROM file f1 JOIN file f2 ON f2.parentId = f1.id
        |  WHERE f1.parentId = 8 AND f1.id <> 0 AND f1.version > 0
        |    AND f2.id <> 0 AND f2.version > 0) u ORDER BY id""".stripMargin)),
    // S6: recursive delete write-set (tombstoned subtree)
    GateEntry("s6_recursive_delete", { (s, dir) =>
      StateManager.recursiveDelete(DerivedState.file(s, dir), Seq(9L))
        .select(col("id"), col("parentId"), col("version"))
        .orderBy(col("id"))
    }, O(
      """SELECT id, parentId, 0 - version AS version FROM (
        |  SELECT id, parentId, version FROM file WHERE id = 9 AND version > 0
        |  UNION ALL
        |  SELECT id, parentId, version FROM file
        |  WHERE parentId = 9 AND id <> 0 AND version > 0
        |  UNION ALL
        |  SELECT f2.id, f2.parentId, f2.version
        |  FROM file f1 JOIN file f2 ON f2.parentId = f1.id
        |  WHERE f1.parentId = 9 AND f1.id <> 0 AND f1.version > 0
        |    AND f2.id <> 0 AND f2.version > 0) u ORDER BY id""".stripMargin)),
    // S7: file info with block-derived length for zero-length files
    GateEntry("s7_file_info", { (s, dir) =>
      DerivedState.register(s, dir)
      StateManager.fileInfo(s.table("file"), s.table("block"))
        .filter(col("length") === 0L)
        .select(col("id"), col("name"), col("effectiveLength"))
        .orderBy(col("id"))
    }, O(
      """SELECT f.id, f.name,
        |  CAST(COALESCE(s.derivedLen, 0) AS BIGINT) AS effectiveLength
        |FROM file f LEFT JOIN (
        |  SELECT fileId, SUM(CASE WHEN blockLength > 0 THEN blockLength ELSE 0 END) AS derivedLen
        |  FROM (SELECT fileId, ARG_MAX(length, CAST(generationStamp AS HUGEINT) * 9223372036854775808 + version) AS blockLength
        |        FROM block WHERE version > 0 GROUP BY fileId, id) e
        |  GROUP BY fileId) s ON s.fileId = f.id
        |WHERE f.version > 0 AND f.length = 0 ORDER BY f.id""".stripMargin)),
    // S8: BlockEntry grouping — primary replica argmax + replica list
    GateEntry("s8_block_entries", { (s, dir) =>
      val b = DerivedState.block(s, dir)
      StateManager.blockEntries(b.filter(col("fileId") % 200 === 0L))
        .select(col("id"), col("fileId"), col("fileIndex"), col("maxGenStamp"),
          col("primaryDatanodeId"), col("blockLength"), col("replicaCount"), col("replicas"))
        .orderBy(col("id"))
    }, O(
      """SELECT id, ANY_VALUE(fileId) AS fileId, ANY_VALUE(fileIndex) AS fileIndex,
        |  MAX(generationStamp) AS maxGenStamp,
        |  ARG_MAX(datanodeId, CAST(generationStamp AS HUGEINT) * 9223372036854775808 + version) AS primaryDatanodeId,
        |  ARG_MAX(length, CAST(generationStamp AS HUGEINT) * 9223372036854775808 + version) AS blockLength,
        |  COUNT(*) AS replicaCount,
        |  STRING_AGG(CAST(datanodeId AS STRING), ',' ORDER BY datanodeId) AS replicas
        |FROM block WHERE version > 0 AND fileId % 200 = 0
        |GROUP BY id ORDER BY id""".stripMargin), headline = true),
    // S9: last block of each file (top-1 by fileIndex)
    GateEntry("s9_last_block", { (s, dir) =>
      val b = DerivedState.block(s, dir)
      StateManager.lastBlockPerFile(b.filter(col("fileId") % 200 === 0L))
        .select(col("fileId"), col("id"), col("fileIndex"), col("blockLength"))
        .orderBy(col("fileId"))
    }, O(
      """SELECT fileId, id, fileIndex, blockLength FROM (
        |  SELECT fileId, id, fileIndex,
        |    ARG_MAX(length, CAST(generationStamp AS HUGEINT) * 9223372036854775808 + version) AS blockLength,
        |    ROW_NUMBER() OVER (PARTITION BY fileId ORDER BY fileIndex DESC) AS rn
        |  FROM block WHERE version > 0 AND fileId % 200 = 0
        |  GROUP BY fileId, id, fileIndex) t
        |WHERE rn = 1 ORDER BY fileId""".stripMargin)),
    // S10: fan-out join — blocks of a file set (skips dirs)
    GateEntry("s10_blocks_of_files", { (s, dir) =>
      DerivedState.register(s, dir)
      val files = s.table("file")
        .filter(col("parentId") === 105L) // customer dir c_5's files
      StateManager.blocksOfFiles(files, s.table("block"))
        .select(col("id"), col("datanodeId"), col("fileId"), col("fileIndex"))
        .orderBy(col("id"), col("datanodeId"))
    }, O(
      """SELECT b.id, b.datanodeId, b.fileId, b.fileIndex
        |FROM block b
        |JOIN file f ON f.id = b.fileId AND f.version > 0 AND f.length <> -1
        |  AND f.parentId = 105
        |WHERE b.version > 0
        |ORDER BY b.id, b.datanodeId""".stripMargin)),
    // S12: datanode topology map — per-rack totals (NetworkTopology shape)
    GateEntry("s12_topology", { (s, dir) =>
      DerivedState.register(s, dir)
      StateStore.live(s.table("datanode"))
        .groupBy(col("location"))
        .agg(count(lit(1)).as("nodes"),
          sum(col("capacity")).as("capacity"),
          sum(col("remaining")).as("remaining"),
          max(col("xceiverCount")).as("peakLoad"))
        .orderBy(col("location"))
    }, O(
      """SELECT location, COUNT(*) AS nodes,
        |  CAST(SUM(capacity) AS BIGINT) AS capacity,
        |  CAST(SUM(remaining) AS BIGINT) AS remaining,
        |  MAX(xceiverCount) AS peakLoad
        |FROM datanode WHERE version > 0
        |GROUP BY location ORDER BY location""".stripMargin)),
    // S11: block → file inverse join
    GateEntry("s11_block_to_file", { (s, dir) =>
      DerivedState.register(s, dir)
      StateManager.fileOfBlock(s.table("file"),
          s.table("block").filter(col("id") % 1000 === 0L))
        .select(col("blockId"), col("fileId"), col("name"), col("length"))
        .orderBy(col("blockId"))
    }, O(
      """SELECT b.blockId, b.fileId, f.name, f.length
        |FROM (SELECT DISTINCT id AS blockId, fileId FROM block
        |      WHERE version > 0 AND id % 1000 = 0) b
        |JOIN file f ON f.id = b.fileId AND f.version > 0
        |ORDER BY b.blockId""".stripMargin)),
    // S13: cluster statistics over live datanodes
    GateEntry("s13_cluster_stats", { (s, dir) =>
      StateManager.clusterStats(DerivedState.datanode(s, dir), Now)
    }, O(
      """SELECT
        |  CAST(SUM(CASE WHEN lastUpdated >= 1700000000000 - 600000 THEN capacity ELSE 0 END) AS BIGINT) AS capacity,
        |  CAST(SUM(CASE WHEN lastUpdated >= 1700000000000 - 600000 THEN dfsUsed ELSE 0 END) AS BIGINT) AS dfsUsed,
        |  CAST(SUM(CASE WHEN lastUpdated >= 1700000000000 - 600000 THEN remaining ELSE 0 END) AS BIGINT) AS remaining,
        |  CAST(SUM(CASE WHEN lastUpdated >= 1700000000000 - 600000 THEN xceiverCount ELSE 0 END) AS BIGINT) AS totalLoad,
        |  COUNT(CASE WHEN lastUpdated >= 1700000000000 - 600000 THEN 1 END) AS liveNodes,
        |  COUNT(CASE WHEN lastUpdated < 1700000000000 - 600000 THEN 1 END) AS deadNodes
        |FROM datanode WHERE version > 0""".stripMargin)),
    // S14: lease expiry scan (soft/hard limits)
    GateEntry("s14_lease_expiry", { (s, dir) =>
      StateManager.expiredLeases(DerivedState.lease(s, dir), Now)
        .select(col("holder"), col("leaseTime"), col("softExpired"), col("hardExpired"))
        .orderBy(col("holder"))
    }, O(
      """SELECT holder, leaseTime,
        |  leaseTime < 1700000000000 - 60000 AS softExpired,
        |  leaseTime < 1700000000000 - 3600000 AS hardExpired
        |FROM lease WHERE version > 0 AND leaseTime < 1700000000000 - 60000
        |ORDER BY holder""".stripMargin)),
    // S15: LeaseMonitor batch step — hard-expired leases → their files
    GateEntry("s15_lease_recovery", { (s, dir) =>
      DerivedState.register(s, dir)
      StateManager.leaseRecoveryCandidates(s.table("lease"), s.table("file"), Now)
        .select(col("holder"), col("id"), col("name"), col("leaseTime"))
        .orderBy(col("holder"), col("id"))
    }, O(
      """SELECT l.holder, f.id, f.name, l.leaseTime
        |FROM lease l JOIN file f ON f.leaseHolder = l.holder AND f.version > 0
        |WHERE l.version > 0 AND l.leaseTime < 1700000000000 - 3600000
        |ORDER BY l.holder, f.id""".stripMargin)),
  )

  private val O = DerivedState.oracle _

  /** R9 latest-abs(version)-wins reduction — shared by the batch replay
    * and its streamed twin. */
  /** R1 probe script (both dialects): 100 steps; every 10th is an
    * invalidation, the rest are gets. Get keys walk 1+(i*7)%50 — each
    * key recurs exactly once 50 steps later (same residue class), so
    * every cached answer gets a re-probe; keys 41-50 don't exist in the
    * 40-node cluster, so their re-probes exercise NEGATIVE caching. An
    * invalidation at step i targets the key probed at step i+1, which
    * (for i >= 50) was first probed at i-49 — forcing post-invalidate
    * re-probes back to 'miss' between two gets of the same key. */
  private val R1ProbeSql: String =
    """SELECT CAST(i AS BIGINT) AS seq,
      |  CASE WHEN i % 10 = 0 THEN 'invalidate' ELSE 'get' END AS action,
      |  CASE WHEN i % 10 = 0 THEN CAST(1 + ((i + 1) * 7) % 50 AS BIGINT)
      |       ELSE CAST(1 + (i * 7) % 50 AS BIGINT) END AS key
      |FROM range(1, 101) AS t(i)""".stripMargin

  private val R9OracleSql: String =
    """SELECT opKey, op, opVersion AS version, payload FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY opKey
      |    ORDER BY ABS(opVersion) DESC, opVersion DESC) AS rn FROM ops) t
      |WHERE rn = 1 AND opVersion > 0 ORDER BY opKey""".stripMargin
}
