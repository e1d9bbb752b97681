package graft.state

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.store.StateStore

/** Write-path repository semantics (SURVEY §2.2 R11-R13, §2.3 S5/S17,
  * §2.4 N2-N4/N12-N13) as BATCH write-set computations: each operation
  * takes the current snapshot plus a batch of requests and returns the
  * rows that would be written (inserts / updates / tombstones), fully
  * validated. Applying a write-set is `snapshot.anti-join(keys) ∪
  * writeSet` under the engine's single-writer discipline (SURVEY §7.4
  * risk 2) — the reference's per-key locks collapse to that discipline.
  *
  * Version assignment: callers pass a `versionBase`; new versions are
  * versionBase + a dense rank over the write-set's deterministic order —
  * the batch analog of the reference's monotone counter
  * (A/distributed/DistributedDataVersion.java).
  */
object Mutations {

  private def live(df: DataFrame) = StateStore.live(df)

  /** Deterministic 1-based global rank by `sortCols` WITHOUT a
    * single-partition window: range-repartition on the keys, sort within
    * partitions, zipWithIndex. Each partition covers a contiguous key
    * range, so partition-order concatenation IS the global sort order and
    * the index is the exact global rank wherever the sampled range
    * boundaries fall — a 100M-row bulk ingest ranks across all executors
    * instead of serializing through one task (the old
    * `Window.orderBy(...)` with no partitionBy). Keys must be unique per
    * row (callers dedupe first) or ranks among ties are unstable. */
  private def globalRank(df: DataFrame, rankCol: String,
                         sortCols: org.apache.spark.sql.Column*): DataFrame = {
    // pin the sorted image: zipWithIndex runs an EAGER startIndices job
    // at construction and the caller consumes the frame later, so
    // without the checkpoint the upstream validation DAG would run three
    // times (range-boundary sampling, the index job, the consumption)
    // and the sort twice. Pinned, upstream runs exactly twice (the
    // sampling pass + the shuffle map — the inherent repartitionByRange
    // price) and the sort once. localCheckpoint blocks free on GC (the
    // dupClusters convention) — no unpersist handle needs to escape
    // this helper; a second input-side pin would save the sampling pass
    // but costs one more eager job per call, a bad trade for the
    // latency-bound small-batch write path.
    val ordered = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .localCheckpoint()
    val schema = ordered.schema
      .add(rankCol, org.apache.spark.sql.types.LongType, nullable = false)
    df.sparkSession.createDataFrame(
      ordered.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L)) },
      schema)
  }

  /** Apply a write-set to a snapshot under the single-writer discipline:
    * rows whose key appears in the write-set are replaced, everything
    * else is kept — the mini-MVCC commit step (anti-join ∪ write-set).
    * The write-set must carry the full row schema. */
  def applyWriteSet(snapshot: DataFrame, writeSet: DataFrame,
                    keyCols: Seq[String]): DataFrame = {
    val keys = writeSet.select(keyCols.map(col): _*).distinct()
    snapshot.join(keys, keyCols, "left_anti")
      .unionByName(writeSet.select(snapshot.columns.toIndexedSeq.map(col): _*))
  }

  /** P9 full shape (A/database/tdhsocket/client/statement/
    * BatchStatementImpl.java — one round-trip carrying heterogeneous
    * writes): multi-table atomic batch commit. Every write-set is
    * computed against the SAME snapshot map and all tables are swapped at
    * ONE commit point under the single-writer discipline — the batch
    * analog of the reference's batch statement, and the end-to-end shape
    * startFile actually needs (file inserts/tombstones + lease upserts in
    * one commit; add the block write-set for N3). Tables without a
    * write-set pass through unchanged. */
  def commitBatch(snapshots: Map[String, DataFrame],
                  writeSets: Map[String, DataFrame],
                  keys: Map[String, Seq[String]]): Map[String, DataFrame] = {
    // an atomic batch must not silently drop writes: every write-set needs
    // a snapshot to apply against (a typo'd table name would otherwise
    // commit partially and "succeed")
    val orphans = writeSets.keySet.diff(snapshots.keySet)
    require(orphans.isEmpty,
      s"commitBatch: write-sets for ${orphans.mkString(", ")} have no matching snapshot")
    snapshots.map { case (t, snap) =>
      t -> writeSets.get(t).map(ws => applyWriteSet(snap, ws, keys(t))).getOrElse(snap)
    }
  }

  /** Most request rows an insert batch validates on the driver: up to it
    * the batch and the file rows it can touch are collected once, and the
    * pushed key lists stay small literal IN lists. */
  val InsertBatchCap: Int = 4096

  /** R11 (FileRepository.insertInternal): validate a batch of candidate
    * child rows (parentId, name, length, blockSize, replication, owner,
    * leaseHolder): parent must exist and be a directory; (parentId,name)
    * must not collide with a live row; name nonempty and ≤255 characters.
    * Returns candidates + a `reject` column (null = accepted). A batch of
    * at most `batchCap` rows is validated over local relations
    * ([[boundedInserts]]), a larger one over the whole live table. */
  def validateInserts(file: DataFrame, candidates: DataFrame,
                      batchCap: Int = InsertBatchCap): DataFrame =
    boundedInserts(file, candidates, batchCap) match {
      case Some((batch, slice)) => rejectLadder(slice, batch)
      case None => rejectLadder(live(file), candidates)
    }

  /** The R11 reject ladder of `candidates` against the live file rows `f`
    * — the one definition both validation routes run. */
  private def rejectLadder(f: DataFrame, candidates: DataFrame): DataFrame = {
    val parents = f.select(col("id").as("__pid"), col("length").as("__plen"))
    val taken = f.select(col("parentId").as("__tp"), col("name").as("__tn"))
    candidates
      .join(parents, col("parentId") === col("__pid"), "left")
      .join(taken, col("parentId") === col("__tp") && col("name") === col("__tn"), "left")
      .withColumn("reject",
        when(col("name").isNull || length(col("name")) === 0, "empty name")
          .when(length(col("name")) > 255, "name too long")
          .when(col("__pid").isNull, "parent not found")
          .when(col("__plen") =!= -1L, "parent not a directory")
          .when(col("__tn").isNotNull, "name exists"))
      .drop("__pid", "__plen", "__tp", "__tn")
  }

  /** A request batch of at most `cap` rows as a local relation, with its
    * file slice: the live rows whose `id` is a requested parent plus the
    * live rows whose (parentId, name) is requested — everything
    * [[rejectLadder]] and the parent touches read. The batch is collected
    * once (limit cap + 1) and the slice in one scan whose `id IN` /
    * `parentId IN` / `name IN` predicates reach the parquet reader — the
    * reference's TDHS `IN` index lookups (SURVEY P7). None over the cap. */
  private def boundedInserts(file: DataFrame, candidates: DataFrame,
                             cap: Int): Option[(DataFrame, DataFrame)] = {
    val batch = candidates.limit(cap + 1).collect()
    if (batch.length > cap) None
    else {
      val sp = candidates.sparkSession
      val (pi, ni) = (candidates.schema.fieldIndex("parentId"),
        candidates.schema.fieldIndex("name"))
      val pids = batch.flatMap(r => Option(r.get(pi))).distinct.toSeq
      val keys = batch.filter(r => !r.isNullAt(pi) && !r.isNullAt(ni))
        .map(r => (r.get(pi), r.getString(ni))).distinct.toSeq
      val f = live(file)
      val isParent = col("id").isin(pids: _*)
      // the first filter reaches the parquet scan; the second, whose
      // struct IN does not translate, makes the slice exact after it
      val slice =
        if (pids.isEmpty) Array.empty[Row]
        else f.filter(isParent ||
            (col("parentId").isin(keys.map(_._1).distinct: _*) &&
             col("name").isin(keys.map(_._2).distinct: _*)))
          .filter(isParent || struct(col("parentId"), col("name"))
            .isin(keys.map { case (p, n) => struct(lit(p), lit(n)) }: _*))
          .collect()
      Some((StateManager.localRelation(sp, batch, candidates.schema),
        StateManager.localRelation(sp, slice, f.schema)))
    }
  }

  /** S5 (insertFileByPath / mkdir -p, StateManager.java:568-590) for a
    * batch of leaf paths whose parents already exist: returns the
    * write-set = accepted new rows (deterministic ids versionBase+rank
    * over (parentId, name)) plus the parents' mtime touches (R12
    * semantics :277-284). A batch of at most `batchCap` requests is
    * validated over local relations, ranked on the driver and returned
    * as one local relation; a larger one ranks distributed. */
  def mkdirs(file: DataFrame, requests: DataFrame, idBase: Long,
             nowMs: Long, leafLength: Long = -1L,
             batchCap: Int = InsertBatchCap): DataFrame =
    boundedInserts(file, requests, batchCap) match {
      case Some((batch, slice)) =>
        val accepted = rejectLadder(slice, batch).filter(col("reject").isNull)
          .select(col("parentId").cast(LongType), col("name")).collect()
          .map(r => (r.getLong(0), r.getString(1))).distinct
          .sorted(Ordering.Tuple2(Ordering.Long, StateManager.SparkStringOrder))
        val sp = requests.sparkSession
        val ranked = StateManager.localRelation(sp,
          accepted.zipWithIndex.map { case ((p, n), i) => Row(p, n, idBase + i + 1) },
          StructType.fromDDL("parentId BIGINT, name STRING, id BIGINT"))
        val parents = accepted.map(_._1).distinct.toSeq
        val (inserts, touches) = insertWriteSet(ranked,
          slice.filter(col("id").isin(parents: _*)), nowMs, leafLength)
        // both sides are projections of local relations, which collect
        // without a job; one local relation carries their union
        StateManager.localRelation(sp, inserts.collect() ++ touches.collect(),
          inserts.unionByName(touches).schema)
      case None =>
        val validated = rejectLadder(live(file), requests)
          .filter(col("reject").isNull).drop("reject")
          // in-batch duplicate (parentId, name) requests collapse to one
          // row: the ladder only checks collisions against LIVE rows, so
          // two identical requests would both pass and commit two live
          // children under one name (the serial reference rejects the
          // second). Every other attribute is overwritten below, so any
          // survivor yields the same write-set.
          .dropDuplicates("parentId", "name")
        val ranked = globalRank(validated, "__rank", col("parentId"), col("name"))
          .withColumn("id", lit(idBase) + col("__rank")).drop("__rank")
        // the touched-parent set is request-bounded — push it into the
        // file scan as an IN predicate (Scale.keyPrune) instead of
        // semi-filtering the whole table after it
        val parents = graft.core.Scale.keyPrune(
          live(file), "id", ranked.select(col("parentId").as("__p")), "__p")
        val (inserts, touches) = insertWriteSet(ranked, parents, nowMs, leafLength)
        inserts.unionByName(touches)
    }

  /** The insert rows of ranked accepted requests (parentId, name, id) and
    * the mtime touches of their `parents`, aligned for one union. */
  private def insertWriteSet(ranked: DataFrame, parents: DataFrame, nowMs: Long,
                             leafLength: Long): (DataFrame, DataFrame) = {
    val inserts = ranked
      .withColumn("length", lit(leafLength))
      .withColumn("blockSize", lit(0L)).withColumn("replication", lit(0L))
      .withColumn("atime", lit(nowMs)).withColumn("mtime", lit(nowMs))
      .withColumn("owner", lit(0L))
      .withColumn("leaseHolder", lit(null).cast("string"))
      .withColumn("leaseRecoveryTime", lit(0L))
      .withColumn("version", col("id"))
      .withColumn("writeOp", lit("insert"))
    val cols = Seq("id", "parentId", "name", "length", "blockSize", "replication",
      "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version",
      "writeOp").map(col)
    (inserts.select(cols: _*),
      parents.withColumn("mtime", lit(nowMs)).withColumn("writeOp", lit("touch"))
        .select(cols: _*))
  }

  /** R12/N12 (FileRepository.updateInternal / renameTo): batch renames
    * (id, newParentId, newName). Validations: not root, parent≠self,
    * target parent exists and is a dir, no target collision. Returns the
    * moved rows (new parentId/name, negated-then-bumped? no — same id,
    * version bumped by `versionBump`) plus mtime touches of BOTH parents. */
  /** Driver-side ancestor chains over the collected dir tree, for the
    * requested `anchors` ONLY (the batch's destination dirs — walking
    * every live dir would build O(#dirs × depth) pairs on the driver for
    * a batch that moves a handful): the (anchorId, ancestorId) pairs of
    * each anchor's root-ward chain INCLUDING itself (root excluded).
    * Chains that do not reach the root within `maxDepth` steps (deeper
    * tree, detached ancestor, corrupt parent cycle) land in the
    * unresolved list instead — ancestry the guard cannot verify is
    * refused, never waved through; the same cap governs the iterative
    * fallback, so both routes validate identically. */
  private def dirAncestors(children: Map[Long, Seq[(Long, String)]],
                           anchors: Iterable[Long], maxDepth: Int)
      : (Seq[(Long, Long)], Seq[Long]) = {
    val parentOf = new scala.collection.mutable.LongMap[Long]()
    children.foreach { case (p, cs) => cs.foreach { case (c, _) => parentOf(c) = p } }
    val pairs = Seq.newBuilder[(Long, Long)]
    val unresolved = Seq.newBuilder[Long]
    anchors.foreach { d =>
      var cur = d
      var steps = 0
      val chain = Seq.newBuilder[(Long, Long)]
      while (cur > 0L && steps < maxDepth) {
        chain += ((d, cur))
        cur = parentOf.getOrElse(cur, -1L) // -1: parent not a live dir
        steps += 1
      }
      if (cur == 0L) pairs ++= chain.result() else unresolved += d
    }
    (pairs.result(), unresolved.result())
  }

  def rename(file: DataFrame, renames: DataFrame, nowMs: Long,
             versionBump: Long = 1000000000L, maxDepth: Int = 64,
             dirBroadcastLimit: Long = StateManager.DirMapCap): DataFrame = {
    // maxDepth 64 (vs the BFS ops' 16): the ancestry walk is O(depth)
    // per DESTINATION dir — driver-trivial on the fast path — so the cap
    // exists only to refuse corrupt cycles, and a legal deep namespace
    // must not trip it
    // persisted: the ancestry guard and the write-set scan f repeatedly
    // (released once the write-set is materialized)
    val f = live(file).persist()
    val cur = f.select(col("id").as("__id"), col("parentId").as("__oldP"),
      col("name").as("__oldN"), col("length").as("__oldLen"))
    val parents = f.select(col("id").as("__tp"), col("length").as("__tplen"))
    val taken = f.select(col("parentId").as("__cp"), col("name").as("__cn"))
    // intra-batch dedup (the serial reference applies one at a time, so
    // the second of two same-target renames would hit "target exists" —
    // mirror that deterministically): one rename per id, one id per
    // (parent, name) target. Exact-duplicate rows collapse FIRST (the
    // same rename twice is one rename — and two identical rows tie both
    // dup windows, which would rank them nondeterministically); ranking
    // happens AFTER the live-id join and the base ladder, with rejected
    // rows ordered last, so a phantom id or an already-refused row can
    // never consume rank 1 from the valid claimer (startFile ranks its
    // dups the same way).
    val base0 = renames.distinct()
      .join(cur, col("id") === col("__id"), "inner")
      .join(parents, col("newParentId") === col("__tp"), "left")
      .join(taken, col("newParentId") === col("__cp") && col("newName") === col("__cn"), "left")
      .withColumn("reject",
        when(col("id") === 0L, "cannot rename root")
          .when(col("newParentId") === col("id"), "parent is self")
          .when(col("__tp").isNull, "target parent not found")
          .when(col("__tplen") =!= -1L, "target parent not a directory")
          .when(col("__cn").isNotNull, "target exists"))
    // the windows SEQUENCE: dup-id rejection resolves first, and only
    // its survivors compete for targets — otherwise a row already
    // refused as a duplicate id would still consume rank 1 of its
    // target and wrongly block the valid claimant. (A claimant refused
    // LATER by the ancestry/entanglement guard still blocks its target
    // in this batch — conservative; split the batch to release it.)
    val rejOrd = when(col("reject").isNull, 0).otherwise(1)
    val wDupId = Window.partitionBy(col("id"))
      .orderBy(rejOrd, col("newParentId"), col("newName"))
    val dupIdRanked = base0.withColumn("__dupI", row_number().over(wDupId))
    val tgtOrd = when(col("reject").isNull && col("__dupI") === 1, 0).otherwise(1)
    val wDupTarget = Window.partitionBy(col("newParentId"), col("newName"))
      .orderBy(tgtOrd, col("id"))
    val baseValidated = dupIdRanked
      .withColumn("__dupT", row_number().over(wDupTarget))
      .withColumn("reject", coalesce(col("reject"),
        when(col("__dupI") > 1, "duplicate rename of id in batch")
          .when(col("__dupT") > 1, "target exists (earlier in batch)")))
      .persist()
    // Ancestry guard: moving a DIR under its own subtree creates a parent
    // CYCLE (the subtree silently vanishes from every root-down walk).
    // Only directory renames can cycle or entangle — a file has no
    // subtree — so the walk seeds from dir rows only and file renames
    // (the overwhelming case) pay nothing here.
    // anc = (row id, ancestor-of-destination) pairs, destination itself
    // included. Fast path (the common case at any scale — the reference's
    // namenode held the whole dir tree in RAM): the collected dir tree
    // yields every dir's root-ward chain driver-side, ONE equi-join, no
    // iteration. Fallback: walk the chains with per-level id-equi joins
    // against the cached live table — batch-sized frontier, early exit at
    // the root. (A path-prefix formulation needs a non-equi self-join
    // that goes quadratic in batch size — measured 57× slower on the
    // rename bench; an unscoped per-level walk alone measured 4×.)
    val seed = baseValidated.filter(col("reject").isNull &&
        col("__oldLen") === -1L)
      .select(col("id").as("__wid"), col("newParentId").as("__dst"))
    val sp = renames.sparkSession
    // ONE cheap probe on the persisted base frame decides whether any dir
    // is being renamed at all; a file-only batch (the overwhelming case —
    // every BenchOps rename, most real traffic) skips the walk, its
    // joins, and the extra cache entirely
    val hasDirRenames = seed.limit(1).count() > 0
    val validated = if (!hasDirRenames) baseValidated else validateDirMoves(
      f, baseValidated, seed, sp, maxDepth, dirBroadcastLimit)
    val ok = validated.filter(col("reject").isNull)
    // broadcast: the accepted-rename side is batch-bounded; the planner
    // sees a stats-less persisted frame and would shuffle both sides
    val moved = f.join(broadcast(ok.select(col("id").as("__mid"), col("newParentId"),
        col("newName"), col("__oldP"))), col("id") === col("__mid"), "inner")
      .withColumn("parentId", col("newParentId"))
      .withColumn("name", col("newName"))
      .withColumn("mtime", lit(nowMs))
      .withColumn("version", col("version") + versionBump)
      .select(col("id"), col("parentId"), col("name"), col("mtime"),
        col("version"), col("__oldP"))
    val parentIds = moved.select(col("__oldP").as("__p"))
      .unionByName(moved.select(col("parentId").as("__p"))).distinct()
    // a touched parent that is ITSELF moved in this batch must not also
    // emit a touch row — the stale (old parentId/name, unbumped version)
    // touch would conflict with its move row, leaving two rows per key
    // after apply; the move row already carries mtime = nowMs
    val touches = graft.core.Scale.keyPrune(f, "id", parentIds, "__p")
      .join(broadcast(moved.select(col("id").as("__movedId"))),
        col("id") === col("__movedId"), "left_anti")
      .withColumn("mtime", lit(nowMs))
      .select(col("id"), col("parentId"), col("name"), col("mtime"), col("version"))
    val out = moved.drop("__oldP").withColumn("writeOp", lit("move"))
      .unionByName(touches.withColumn("writeOp", lit("touch")))
    // materialize the (batch-sized) write-set, then release the live
    // table and the two batch frames pinned above (graft.core.Caching)
    graft.core.Caching.materializeAndRelease(out, Seq(f, baseValidated, validated))
  }

  /** The dir-rename ancestry/entanglement pass of [[rename]] — only
    * invoked when the batch actually renames a directory. */
  private def validateDirMoves(f: DataFrame, baseValidated: DataFrame,
                               seed: DataFrame,
                               sp: org.apache.spark.sql.SparkSession,
                               maxDepth: Int, dirBroadcastLimit: Long): DataFrame = {
    val (anc, unresolvedIds) =
      StateManager.collectDirChildren(f, dirBroadcastLimit, needNames = false) match {
        case Some(children) =>
          // anchors = the batch's DISTINCT destination dirs (batch-
          // bounded driver collect, like the N7 placement budget) — the
          // chains walked are O(batch × depth), not O(#dirs × depth)
          val anchors = seed.select(col("__dst")).distinct()
            .collect().map(_.getLong(0))
          val (pairs, unresolved) = dirAncestors(children, anchors, maxDepth)
          val pairsDf = sp.createDataFrame(pairs).toDF("__dir", "__anc")
          val unresolvedDf = sp.createDataFrame(unresolved.map(Tuple1(_))).toDF("__udir")
          (seed.join(pairsDf, col("__dst") === col("__dir"))
             .select(col("__wid"), col("__anc")),
           seed.join(broadcast(unresolvedDf), col("__dst") === col("__udir"))
             .select(col("__wid").as("__uid")).distinct())
        case None =>
          // ancestors are DIRS by construction (matching the fast path's
          // dir-tree map): a live FILE in a parent chain is corrupt state
          // and must break the chain, not be walked through
          val parentOf = f.filter(col("length") === -1L)
            .select(col("id").as("__aid"), col("parentId").as("__pnext"))
          var frontier = seed.select(col("__wid"), col("__dst").as("__anc"))
            .filter(col("__anc") > 0L)
          // per-level persists (like descendants): without them, level
          // k's count() re-executes levels 1..k-1 and the final anc
          // consumers (cycle + entanglement) re-run the whole walk —
          // O(depth²) at the 64-level cap. Released after `walked`
          // materializes below.
          val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
          frontier.persist(); levels += frontier
          var walked = frontier
          // a chain whose next ancestor is NOT a live dir (left-join
          // miss) is broken — UNRESOLVED, exactly like the fast path's
          // detached-parent case; silently dropping it would wave the
          // move through unverified
          var broken = seed.limit(0).select(col("__wid").as("__uid"))
          var lvl = 0
          var n = frontier.count()
          while (n > 0 && lvl < maxDepth) {
            val stepped = frontier
              .join(parentOf, col("__anc") === col("__aid"), "left")
              .select(col("__wid"), col("__pnext"))
            // broken = join miss (ancestor not a live dir) OR a negative
            // parent pointer on a non-root node (only root carries -1;
            // anywhere else it is corrupt state the fast path also
            // refuses). pnext == 0 is the clean root exit.
            broken = broken.unionByName(stepped
              .filter(col("__pnext").isNull || col("__pnext") < 0L)
              .select(col("__wid").as("__uid")))
            frontier = stepped.filter(col("__pnext") > 0L)
              .select(col("__wid"), col("__pnext").as("__anc"))
            frontier.persist(); levels += frontier
            n = frontier.count()
            if (n > 0) walked = walked.unionByName(frontier)
            lvl += 1
          }
          // frontier still live at maxDepth: deeper tree or parent cycle
          val unres = (if (n > 0) broken.unionByName(frontier.select(col("__wid").as("__uid")))
            else broken).distinct()
          // materialize BOTH walk outputs while the level caches are
          // still live — `unres` unions per-level `broken` slices, so
          // releasing first would hand its later evaluation the full
          // O(depth²) uncached re-walk
          val u = graft.core.Caching.materializeAndRelease(unres, Seq.empty)
          val w = graft.core.Caching.materializeAndRelease(walked, levels.toSeq)
          (w, u)
      }
    // own id among the destination's ancestors ⟺ destination lies in the
    // row's own subtree
    val cycleIds = anc.filter(col("__wid") === col("__anc"))
      .select(col("__wid").as("__cid")).distinct()
    val withWalk = baseValidated
      .join(unresolvedIds, col("id") === col("__uid"), "left")
      .join(cycleIds, col("id") === col("__cid"), "left")
      .withColumn("reject", coalesce(col("reject"),
        when(col("__uid").isNotNull,
          "ancestry unresolved (deeper than maxDepth) - cannot verify"),
        when(col("__cid").isNotNull, "cannot move under own subtree")))
    // per-row checks see PRE-rename ancestry only, so a batch can still
    // compose a cycle out of individually-valid moves (A under B's
    // subtree while B moves under A's). Conservatively refuse any DIR
    // row whose destination is, or lies under, ANOTHER still-valid
    // renamed dir: once that dir moves, the destination's final location
    // is defined by this same batch — entangled batches must be split.
    // (File rows never entangle: a moved file has no subtree, and a file
    // destination under a moving dir stays well-defined — the dst dir
    // itself remains live wherever it lands.)
    val movers = withWalk.filter(col("reject").isNull &&
        col("__oldLen") === -1L)
      .select(col("id").as("__mvid"))
    val entangledIds = anc
      .join(broadcast(movers), col("__anc") === col("__mvid") &&
        col("__wid") =!= col("__mvid"))
      .select(col("__wid").as("__eid")).distinct()
    // materialize the batch-sized validated frame (the write-set in
    // rename references it several times) and release the walk caches —
    // on the fast path both are unpersisted and the release is a no-op
    graft.core.Caching.materializeAndRelease(
      withWalk
        .join(entangledIds, col("id") === col("__eid"), "left")
        .withColumn("reject", coalesce(col("reject"),
          when(col("__eid").isNotNull,
            "batch-entangled: destination inside another renamed subtree"))),
      Seq(anc, unresolvedIds))
  }

  /** R13 (FileRepository.deleteInternal): guarded non-recursive delete —
    * refuse root and non-empty directories; tombstone the rest. Returns
    * (id, parentId, name, version<0) for deleted rows and a `reject`
    * column for refused ones. */
  def guardedDelete(file: DataFrame, ids: DataFrame): DataFrame = {
    val f = live(file)
    val childCounts = f.groupBy(col("parentId").as("__cp"))
      .agg(count(lit(1)).as("__children"))
    f.join(ids.select(col("id").as("__did")), col("id") === col("__did"), "inner")
      .join(childCounts, col("id") === col("__cp"), "left")
      .withColumn("reject",
        when(col("id") === 0L, "cannot delete root")
          .when(col("length") === -1L && coalesce(col("__children"), lit(0L)) > 0,
            "directory not empty"))
      .withColumn("version", when(col("reject").isNull, -col("version"))
        .otherwise(col("version")))
      .select(col("id"), col("parentId"), col("name"), col("version"), col("reject"))
  }

  /** N13 (setReplication/setTimes/setOwner): masked attribute update on a
    * keyed subset — P8 SET semantics with a version bump. */
  def setAttrs(file: DataFrame, where: Column, sets: Map[String, StateStore.SetExpr],
               nowMs: Long, versionBump: Long = 1000000000L): DataFrame =
    StateStore.update(file, where,
      sets + ("version" -> StateStore.Add(versionBump)), nowMs)

  /** N4 (completeFile): a file under construction can complete iff every
    * one of its blocks has ≥ minReplication finished (length ≥ 0)
    * replicas. Returns (fileId, nBlocks, completeBlocks, canComplete). */
  def completeFileCheck(file: DataFrame, block: DataFrame, minReplication: Int = 1): DataFrame = {
    val uc = live(file).filter(col("leaseHolder").isNotNull)
      .select(col("id").as("fileId"), col("leaseHolder"))
    // the under-construction file set is request-scale vs a 100 TB block
    // table — push its fileIds into the block scan as an IN predicate
    // (Scale.keyPrune row-group/bucket pruning; lists past the pushdown
    // bound fall back to the semi-join this replaced)
    val perBlock = graft.core.Scale.keyPrune(live(block), "fileId", uc, "fileId")
      .groupBy(col("fileId"), col("id"))
      .agg(count(when(col("length") >= 0, 1)).as("finishedReplicas"))
    uc.join(perBlock.groupBy(col("fileId").as("__f"))
        .agg(count(lit(1)).as("nBlocks"),
          count(when(col("finishedReplicas") >= minReplication, 1)).as("completeBlocks")),
        col("fileId") === col("__f"), "left")
      .withColumn("nBlocks", coalesce(col("nBlocks"), lit(0L)))
      .withColumn("completeBlocks", coalesce(col("completeBlocks"), lit(0L)))
      .withColumn("canComplete", col("nBlocks") === col("completeBlocks"))
      .select(col("fileId"), col("leaseHolder"), col("nBlocks"),
        col("completeBlocks"), col("canComplete"))
  }

  /** N2 (FSNamesystem.startFile :831-1005): batch create. Each request is
    * (parentId, name, holder, overwrite). Outcomes per the reference's
    * case ladder: target exists as dir → reject; target under
    * construction (leaseHolder set) → reject; target exists as file →
    * reject unless overwrite (then tombstone old + insert new); plus the
    * R11 parent/name validations. The write-set carries one row per
    * action: 'insert' (new file row, under construction with
    * leaseHolder=holder), 'tombstone' (overwritten old row, version
    * negated), 'lease' (holder upsert, :870), 'reject' (refused request
    * with reason). New ids/versions are idBase + rank over the accepted
    * batch — the driver-serialized commit point (SURVEY §7.4 risk 2). */
  def startFile(file: DataFrame, requests: DataFrame, idBase: Long,
                nowMs: Long): DataFrame = {
    val f = live(file)
    val parents = f.select(col("id").as("__pid"), col("length").as("__plen"))
    val target = f.select(col("parentId").as("__tp"), col("name").as("__tn"),
      col("id").as("__tid"), col("length").as("__tlen"),
      col("leaseHolder").as("__tlh"), col("version").as("__tver"))
    val j = requests
      .join(parents, col("parentId") === col("__pid"), "left")
      .join(target, col("parentId") === col("__tp") && col("name") === col("__tn"), "left")
      .withColumn("reject",
        when(col("name").isNull || length(col("name")) === 0, "empty name")
          .when(length(col("name")) > 255, "name too long")
          .when(col("__pid").isNull, "parent not found")
          .when(col("__plen") =!= -1L, "parent not a directory")
          .when(col("__tid").isNotNull && col("__tlen") === -1L,
            "already exists as directory")
          .when(col("__tid").isNotNull && col("__tlh").isNotNull,
            "file under construction")
          .when(col("__tid").isNotNull && !col("overwrite"), "file exists"))
    // intra-batch dedup: the reference executes creates serially, so the
    // second request for the same (parentId, name) would see the first's
    // just-created row — in batch, only the first (by holder order) wins
    // and the rest are rejected, keeping the unique-key invariant
    val dupW = Window.partitionBy(col("parentId"), col("name")).orderBy(col("holder"))
    val ranked = j.filter(col("reject").isNull)
      .withColumn("__dupRank", row_number().over(dupW))
    val ok = ranked.filter(col("__dupRank") === 1)
    // deterministic id assignment: rank over (parentId, name, holder) —
    // distributed (range-partitioned zipWithIndex), never one task
    val inserts = globalRank(ok, "__rank",
        col("parentId"), col("name"), col("holder"))
      .withColumn("id", lit(idBase) + col("__rank"))
      .select(lit("insert").as("writeOp"), col("id"), col("parentId"),
        col("name"), col("holder").as("leaseHolder"), col("id").as("version"),
        lit(null).cast("string").as("reject"))
    val tombstones = ok.filter(col("__tid").isNotNull)
      .select(lit("tombstone").as("writeOp"), col("__tid").as("id"),
        col("parentId"), col("name"), col("__tlh").as("leaseHolder"),
        (-col("__tver")).as("version"), lit(null).cast("string").as("reject"))
    val leases = ok.select(col("holder")).distinct()
      .select(lit("lease").as("writeOp"), lit(-1L).as("id"), lit(-1L).as("parentId"),
        col("holder").as("name"), col("holder").as("leaseHolder"),
        lit(nowMs).as("version"), lit(null).cast("string").as("reject"))
    val rejects = j.filter(col("reject").isNotNull)
      .select(lit("reject").as("writeOp"), coalesce(col("__tid"), lit(-1L)).as("id"),
        col("parentId"), col("name"), col("holder").as("leaseHolder"),
        lit(0L).as("version"), col("reject"))
    val dupRejects = ranked.filter(col("__dupRank") > 1)
      .select(lit("reject").as("writeOp"), coalesce(col("__tid"), lit(-1L)).as("id"),
        col("parentId"), col("name"), col("holder").as("leaseHolder"),
        lit(0L).as("version"), lit("duplicate in batch").as("reject"))
    inserts.unionByName(tombstones).unionByName(leases)
      .unionByName(rejects).unionByName(dupRejects)
  }

  /** FsShell put/copyFromLocal collapsed to its NAMENODE effect
    * (C/org/apache/hadoop/fs/FsShell.java:128-161 copy/moveFromLocal →
    * the DFSClient write loop: create DFSClient.java:3261, addBlock per
    * block :3562, close/complete :3857). Each request is (parentId, name,
    * holder, fileLength) where fileLength is the REAL local byte count;
    * the whole client loop lands as ONE declarative write-set — the
    * completed file row (length set, lease already released by close())
    * plus ceil(fileLength/blockSize) block rows with real lengths (the
    * last block partial), fanned out via sequence()/explode. No driver
    * loop anywhere, so a million-file ingest batch plans exactly like one
    * file. Validation and id assignment are startFile's (the same case
    * ladder and idBase + rank); block ids are blockIdBase + rank over
    * (fileId, fileIndex). Output rows:
    * (writeOp insert|blockInsert|reject, tbl file|block, id, parentId
    * [= fileId for block rows], name, length, fileIndex, version,
    * reject). Empty files produce no block rows (the reference writes
    * none for length 0). */
  def putFile(file: DataFrame, requests: DataFrame, idBase: Long,
              blockIdBase: Long, blockSize: Long, nowMs: Long): DataFrame = {
    require(blockSize > 0L, s"blockSize must be positive, got $blockSize")
    // one request row per (parentId, name, holder): duplicate requests
    // would otherwise multiply the insert row through the join below
    // (startFile keeps ONE winner per (parentId, name)); max() makes the
    // same-holder-different-length degenerate case deterministic
    val reqKeyed = requests.groupBy(col("parentId"), col("name"), col("holder"))
      .agg(max(col("fileLength")).as("fileLength"))
    val ws = startFile(file,
      requests.select(col("parentId"), col("name"), col("holder"),
        lit(false).as("overwrite")),
      idBase, nowMs)
    // join the winner's holder too — a losing duplicate's request row
    // must not attach to the winner's insert
    val accepted = ws.filter(col("writeOp") === "insert")
      .join(reqKeyed.select(col("parentId").as("__rp"), col("name").as("__rn"),
          col("holder").as("__rh"), col("fileLength")),
        col("parentId") === col("__rp") && col("name") === col("__rn") &&
          col("leaseHolder") === col("__rh"))
      .drop("__rp", "__rn", "__rh")
    val fileRows = accepted.select(
      lit("insert").as("writeOp"), lit("file").as("tbl"), col("id"),
      col("parentId"), col("name"), col("fileLength").as("length"),
      lit(0L).as("fileIndex"), col("version"),
      lit(null).cast("string").as("reject"))
    // lengths stay well under 2^53, so the double round-trip in the
    // ceil-divide is exact
    val exploded = accepted.filter(col("fileLength") > 0L)
      .withColumn("nBlocks",
        floor((col("fileLength") + lit(blockSize - 1L)) / lit(blockSize)).cast("long"))
      .withColumn("fileIndex", explode(sequence(lit(1L), col("nBlocks"))))
      .withColumn("blockLength",
        when(col("fileIndex") < col("nBlocks"), lit(blockSize))
          .otherwise(col("fileLength") - (col("nBlocks") - 1L) * lit(blockSize)))
      .select(col("id").as("fileId"), col("fileIndex"), col("blockLength"))
    val blockRows = globalRank(exploded, "__brank", col("fileId"), col("fileIndex"))
      .select(lit("blockInsert").as("writeOp"), lit("block").as("tbl"),
        (lit(blockIdBase) + col("__brank")).as("id"),
        col("fileId").as("parentId"), lit(null).cast("string").as("name"),
        col("blockLength").as("length"), col("fileIndex"),
        (lit(blockIdBase) + col("__brank")).as("version"),
        lit(null).cast("string").as("reject"))
    val rejects = ws.filter(col("writeOp") === "reject")
      .select(col("writeOp"), lit("file").as("tbl"), col("id"),
        col("parentId"), col("name"), lit(0L).as("length"),
        lit(0L).as("fileIndex"), col("version"), col("reject"))
    fileRows.unionByName(blockRows).unionByName(rejects)
  }

  /** N2 append branch (FSNamesystem.appendFile :965-1015 via
    * startFileInternal(append=true) :842-897): batch reopen-for-append.
    * Each request is (parentId, name, holder). Case ladder: target missing
    * → reject (:862-863 FileNotFoundException); target is a directory →
    * reject (:859); target under construction → reject (:931-960
    * recoverLeaseInternal throws AlreadyBeingCreatedException). Accepted
    * requests produce the reference's three write effects:
    *  - 'lease'  — holder upsert (insertLeaseByHolder :870),
    *  - 'attach' — the file row's leaseHolder set to holder with a version
    *               bump (updateFileByFile(file, LEASEHOLDER) :872-873),
    *  - 'reopen' — every FINISHED replica (length ≥ 0) of the file's LAST
    *               block gets length = -1, i.e. back under construction
    *               (:995-1001 sets lastBlocks[i].length = -1 and updates
    *               BLOCK.LENGTH). The marking is unconditional on the
    *               partial-block check (:978 only gates the returned
    *               LocatedBlock, not the length reset).
    * Two same-target requests in one batch: the reference runs them
    * serially, so the second sees the first's lease and fails under
    * construction — in batch the first by holder order wins, the rest
    * reject with the same reason. */
  def appendFile(file: DataFrame, block: DataFrame, requests: DataFrame,
                 nowMs: Long, versionBump: Long = 1000000000L): DataFrame = {
    val f = live(file)
    val target = f.select(col("parentId").as("__tp"), col("name").as("__tn"),
      col("id").as("__tid"), col("length").as("__tlen"),
      col("leaseHolder").as("__tlh"), col("version").as("__tver"))
    val j = requests
      .join(target, col("parentId") === col("__tp") && col("name") === col("__tn"), "left")
      .withColumn("reject",
        when(col("__tid").isNull, "file not found")
          .when(col("__tlen") === -1L, "already exists as a directory")
          .when(col("__tlh").isNotNull, "file under construction"))
    val dupW = Window.partitionBy(col("parentId"), col("name")).orderBy(col("holder"))
    val ranked = j.filter(col("reject").isNull)
      .withColumn("__dupRank", row_number().over(dupW))
    val ok = ranked.filter(col("__dupRank") === 1)
    val nullStr = lit(null).cast("string")
    val attach = ok.select(lit("attach").as("writeOp"), lit("file").as("tbl"),
      col("__tid").as("id"), col("name"), col("holder").as("leaseHolder"),
      (col("__tver") + versionBump).as("version"), nullStr.as("reject"))
    val leases = ok.select(col("holder")).distinct()
      .select(lit("lease").as("writeOp"), lit("lease").as("tbl"), lit(-1L).as("id"),
        col("holder").as("name"), col("holder").as("leaseHolder"),
        lit(nowMs).as("version"), nullStr.as("reject"))
    // last-block reopen: the appended fileIds push into the block scan as
    // an IN predicate (Scale.keyPrune — the request set is tiny vs 100 TB
    // of replica rows; row-group/bucket pruning instead of semi-filtering
    // after the scan), and ONE pruned frame feeds both the max-fileIndex
    // groupBy and the reopen join — neither streams the table
    val wanted = ok.select(col("__tid").as("__fid"), col("holder"))
    val b = graft.core.Scale.keyPrune(live(block), "fileId", wanted, "__fid")
    val lastIdx = b
      .groupBy(col("fileId").as("__lf")).agg(max(col("fileIndex")).as("__li"))
    val reopen = b
      .join(lastIdx, col("fileId") === col("__lf") && col("fileIndex") === col("__li"))
      .filter(col("length") >= 0L)
      .join(wanted, col("fileId") === col("__fid"))
      .select(lit("reopen").as("writeOp"), lit("block").as("tbl"), col("id"),
        nullStr.as("name"), col("holder").as("leaseHolder"),
        (col("version") + versionBump).as("version"), nullStr.as("reject"))
    val rejects = j.filter(col("reject").isNotNull)
      .select(lit("reject").as("writeOp"), lit("file").as("tbl"),
        coalesce(col("__tid"), lit(-1L)).as("id"), col("name"),
        col("holder").as("leaseHolder"), lit(0L).as("version"), col("reject"))
    val dupRejects = ranked.filter(col("__dupRank") > 1)
      .select(lit("reject").as("writeOp"), lit("file").as("tbl"),
        col("__tid").as("id"), col("name"), col("holder").as("leaseHolder"),
        lit(0L).as("version"), lit("file under construction").as("reject"))
    attach.unionByName(leases).unionByName(reopen)
      .unionByName(rejects).unionByName(dupRejects)
  }

  /** N3 (FSNamesystem.getAdditionalBlock :1028-1100): block allocation
    * check + id assignment for every under-construction file. A file may
    * get its next block iff its current LAST stored block has ≥
    * minReplication finished (length ≥ 0) replicas (the reference's
    * penultimate-block check — the client is writing the next one).
    * newBlockId = idBase + fileId (deterministic allocation); target
    * choice is N7 (Placement.chooseTargetsScored, a dataflow over the
    * live topology); the reference then inserts one block row per
    * target plus a NULL_DATANODE row (:1172-1181). */
  def addBlock(file: DataFrame, block: DataFrame, idBase: Long,
               minReplication: Int = 1): DataFrame = {
    val uc = live(file).filter(col("leaseHolder").isNotNull)
      .select(col("id").as("fileId"))
    val b = live(block)
    val lastIdx = b.groupBy(col("fileId").as("__fid"))
      .agg(max(col("fileIndex")).as("__lastIndex"))
    val lastBlk = b
      .join(lastIdx, col("fileId") === col("__fid") &&
        col("fileIndex") === col("__lastIndex"))
      .groupBy(col("__fid"), col("__lastIndex"))
      .agg(count(when(col("length") >= 0, 1)).as("__finished"))
    uc.join(lastBlk, col("fileId") === col("__fid"), "left")
      .withColumn("newBlockId", lit(idBase) + col("fileId"))
      .withColumn("newFileIndex", coalesce(col("__lastIndex"), lit(0L)) + 1L)
      .withColumn("lastFinishedReplicas", coalesce(col("__finished"), lit(0L)))
      .withColumn("canAllocate",
        col("__fid").isNull || col("__finished") >= minReplication)
      .select(col("fileId"), col("newBlockId"), col("newFileIndex"),
        col("lastFinishedReplicas"), col("canAllocate"))
  }

  /** FsShell cp as a metadata write-set (fs/FsShell.java:978-991 `copy` →
    * FileUtil.copy): each request (srcId, dstParentId, newName) copies the
    * source subtree under the destination parent. The byte plane collapses
    * to row duplication: the reference re-writes data through the write
    * pipeline (fresh block identity, placement chosen at write time); the
    * metadata engine duplicates each copied file's live replica rows under
    * new block ids, keeping placement and genstamp — the deterministic
    * batch image of "same bytes, new identity".
    *
    * Validations: source must exist; destination parent must exist and be
    * a directory; (dstParentId, newName) must not collide with a live row
    * (FileUtil.checkDest "already exists"); a directory cannot be copied
    * into its own subtree (FileUtil.checkDependencies); duplicate
    * destinations within one batch — first by srcId wins, the rest reject
    * (the startFile serial-execution convention).
    *
    * New ids are idBase/blockIdBase + a distributed rank over the copied
    * set ([[globalRank]] — never a single-partition window); versions of
    * new rows equal their ids (the insert convention). Output rows:
    * (writeOp copy|reject, tbl file|block, id, parentId — for block rows
    * the new OWNER file id —, name, length, datanodeId, srcId — the
    * copied row's original id —, version, reject). Returns a
    * materialized checkpoint (graft.core.Caching). A subtree deeper than
    * maxDepth levels is refused, not cut. */
  def copy(file: DataFrame, block: DataFrame, requests: DataFrame,
           idBase: Long, blockIdBase: Long, maxDepth: Int = 16): DataFrame = {
    val f = live(file)
    val reqs = requests.select(col("srcId").as("__rsrc"),
      col("dstParentId").as("__rdst"), col("newName").as("__rname"))
    val srcInfo = f.select(col("id").as("__sid"))
    val parents = f.select(col("id").as("__pid"), col("length").as("__plen"))
    val taken = f.select(col("parentId").as("__tp"), col("name").as("__tn"))
    val v0 = reqs
      .join(srcInfo, col("__rsrc") === col("__sid"), "left")
      .join(parents, col("__rdst") === col("__pid"), "left")
      .join(taken, col("__rdst") === col("__tp") && col("__rname") === col("__tn"), "left")
      .withColumn("reject",
        when(col("__sid").isNull, "source not found")
          .when(col("__pid").isNull, "parent not found")
          .when(col("__plen") =!= -1L, "parent not a directory")
          .when(col("__tn").isNotNull, "destination exists"))
      // request-bounded; pinned because three actions read it (the BFS
      // seed via accepted, rejects and dupRejects in the final
      // materialize) and each re-ran the live-file validation joins
      .localCheckpoint()
    val dupW = Window.partitionBy(col("__rdst"), col("__rname")).orderBy(col("__rsrc"))
    val ranked = v0.filter(col("reject").isNull)
      .withColumn("__dup", row_number().over(dupW))
    val accepted = ranked.filter(col("__dup") === 1)
      .select(col("__rsrc"), col("__rdst"), col("__rname"))
    // per-request subtree walk carrying the request key, so one batch
    // of N copies costs the same per-level joins as one
    val allMembers = StateManager.walkDown(
      f.select(col("id"), col("parentId"), col("name"), col("length")),
      _.join(broadcast(accepted), col("id") === col("__rsrc")),
      carry = Seq("__rsrc", "__rdst", "__rname"), step = identity,
      maxDepth, refuse = Some("copy"))
    // FileUtil.checkDependencies: the destination parent inside the
    // source subtree (or the source itself) refuses the whole request
    val cyc = allMembers.filter(col("id") === col("__rdst"))
      .select(col("__rsrc"), col("__rdst"), col("__rname")).distinct()
    val good = allMembers.join(cyc,
      Seq("__rsrc", "__rdst", "__rname"), "left_anti")
    val rankedRows = globalRank(good, "__rk",
        col("__rsrc"), col("__rdst"), col("__rname"), col("id"))
      .withColumn("__newId", lit(idBase) + col("__rk"))
    val rankMap = rankedRows.select(col("__rsrc").as("__m1"),
      col("__rdst").as("__m2"), col("__rname").as("__m3"),
      col("id").as("__oldP"), col("__newId").as("__newP"))
    val fileRows = rankedRows
      // broadcast: both sides are stats-less zipWithIndex frames, so the
      // planner would sort-merge this self-join. rankMap holds one row
      // per copied file, so it is SUBTREE-sized, not request-bounded: a
      // copy of one large directory broadcasts the whole subtree
      .join(broadcast(rankMap), col("__rsrc") === col("__m1") && col("__rdst") === col("__m2")
        && col("__rname") === col("__m3") && col("parentId") === col("__oldP"), "left")
      .select(lit("copy").as("writeOp"), lit("file").as("tbl"),
        col("__newId").as("id"),
        when(col("id") === col("__rsrc"), col("__rdst"))
          .otherwise(col("__newP")).as("parentId"),
        when(col("id") === col("__rsrc"), col("__rname"))
          .otherwise(col("name")).as("name"),
        col("length"), lit(null).cast("long").as("datanodeId"),
        col("id").as("srcId"), col("__newId").as("version"),
        lit(null).cast("string").as("reject"))
    // block duplication for the copied files. The copied set is
    // subtree-sized (one row per copied file), not request-bounded, and
    // so are the broadcasts of copiedFiles and blockKeys (one row per
    // copied block) below. Push its file ids into the block scan
    // (Scale.keyPrune — in views mode the fileId predicate drops below
    // the derivation window; on a real table it prunes row groups) and
    // PIN the matched replicas once (r20, guide §5) — blockKeys' rank
    // (range-sampling pass + index job) and the final blockRows join
    // each re-derived the whole block view without the pin (~2.5 s per
    // evaluation at sf0.1, 3 evaluations)
    val copiedFiles = rankedRows.filter(col("length") =!= -1L)
      .select(col("__rsrc"), col("__rdst"), col("__rname"),
        col("id").as("__cfOld"), col("__newId").as("__cfNew"))
    val replicas = graft.core.Scale.keyPrune(live(block), "fileId",
        copiedFiles.select(col("__cfOld")), "__cfOld")
      .join(broadcast(copiedFiles), col("fileId") === col("__cfOld"))
      .localCheckpoint()
    val blockKeys = globalRank(
        replicas.select(col("__rsrc"), col("__rdst"), col("__rname"),
          col("id").as("__ob")).distinct(),
        "__brk", col("__rsrc"), col("__rdst"), col("__rname"), col("__ob"))
      .withColumn("__newBid", lit(blockIdBase) + col("__brk"))
      .select(col("__rsrc").as("__b1"), col("__rdst").as("__b2"),
        col("__rname").as("__b3"), col("__ob"), col("__newBid"))
    val blockRows = replicas
      .join(broadcast(blockKeys), col("__rsrc") === col("__b1") && col("__rdst") === col("__b2")
        && col("__rname") === col("__b3") && col("id") === col("__ob"))
      .select(lit("copy").as("writeOp"), lit("block").as("tbl"),
        col("__newBid").as("id"), col("__cfNew").as("parentId"),
        lit(null).cast("string").as("name"), col("length"),
        col("datanodeId"), col("id").as("srcId"),
        col("__newBid").as("version"), lit(null).cast("string").as("reject"))
    def rejRow(src: Column, dst: Column, nm: Column, reason: Column): Seq[Column] =
      Seq(lit("reject").as("writeOp"), lit("file").as("tbl"), src.as("id"),
        dst.as("parentId"), nm.as("name"), lit(null).cast("long").as("length"),
        lit(null).cast("long").as("datanodeId"), src.as("srcId"),
        lit(0L).as("version"), reason.as("reject"))
    val rejects = v0.filter(col("reject").isNotNull)
      .select(rejRow(col("__rsrc"), col("__rdst"), col("__rname"), col("reject")): _*)
    val dupRejects = ranked.filter(col("__dup") > 1)
      .select(rejRow(col("__rsrc"), col("__rdst"), col("__rname"),
        lit("duplicate in batch")): _*)
    val cycRejects = cyc
      .select(rejRow(col("__rsrc"), col("__rdst"), col("__rname"),
        lit("cannot copy a directory into its own subtree")): _*)
    val out = fileRows.unionByName(blockRows).unionByName(rejects)
      .unionByName(dupRejects).unionByName(cycRejects)
    // materialize the (batch-sized) write-set, then free the
    // subtree-sized member set it was built from
    graft.core.Caching.materializeAndRelease(out, Seq(allMembers))
  }

  /** Most sources a mirror-chain batch holds on the driver: the requests
    * of one moveToTrash batch or the corrupt files of one fsck -move
    * (sf0.1 has 51,575). A larger set is refused, never cut. */
  val MirrorSourceCap: Int = 65536

  /** The rows of `sources`, collected once up to `cap`; a larger set
    * fails with an error naming the cap and `remedy`. */
  private[graft] def collectSources(sources: DataFrame, remedy: String,
                                    cap: Int = MirrorSourceCap): Array[Row] = {
    val rows = sources.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"more than $cap sources (Mutations.MirrorSourceCap) in one batch: $remedy")
    rows
  }

  /** The live dir tree as dirId → absolute path (the root is ""), when it
    * has at most `cap` dirs; None above it. Dirs to depth 15, so a leaf
    * appended to a mapped path lands at depth ≤ 16, materializePaths'
    * bound. A dead root yields the empty map, as materializePaths
    * resolves nothing then. */
  private[graft] def dirPaths(file: DataFrame, cap: Long): Option[Map[Long, String]] =
    StateManager.collectDirChildren(live(file), cap).map { ch =>
      if (ch.valuesIterator.flatten.exists(_._1 == 0L))
        StateManager.dirPathPairs(ch, 15).toMap
      else Map.empty
    }

  /** A row [[mirrorChains]] creates: a dir (length -1) or a leaf. */
  private[graft] case class Mirrored(path: String, id: Long, parentId: Long,
                                     name: String, length: Long)

  /** What [[mirrorChains]] resolved: the sources a FILE row blocks, the
    * created rows in id order, the id of every chain path of an unblocked
    * source, and the pre-existing dirs the created rows hang under. */
  private[graft] case class MirrorChains(blocked: Set[Long], created: Seq[Mirrored],
                                         idOf: Map[String, Long], reused: Seq[Long])

  /** The mirror-dir batch behind Trash.moveToTrash (:128) and
    * NamenodeFsck.lostFoundMove (:371): both create their mirror dirs
    * through the namenode's one mkdirs. `mirrors` gives each source its
    * mirror dir; the source's chain is every '/'-prefix of that path.
    * `leaves` (source, path, length) are new rows under a chain (fsck's
    * chain files), never probed. Each chain path resolves against the
    * live namespace:
    *  - a path a live dir holds is that dir — the lowest id when live
    *    rows share one (parentId, name), so a FILE beside it blocks
    *    nothing;
    *  - a path only a FILE holds blocks every source whose chain has it;
    *  - every other path of an unblocked source is created, together with
    *    its leaves: ids `idBase + rank` over the created paths in Spark's
    *    string order, so a parent ranks before its children.
    * `dirs` is [[dirPaths]]. With the map, dirs answer from it and only
    * the chain paths no mapped dir holds are probed, as (parentId, name)
    * pairs; None resolves the chain paths against materializePaths. */
  private[graft] def mirrorChains(file: DataFrame, dirs: Option[Map[Long, String]],
                                  mirrors: Seq[(Long, String)],
                                  leaves: Seq[(Long, String, Long)],
                                  idBase: Long): MirrorChains = {
    def parentPath(p: String): String = p.substring(0, p.lastIndexOf('/'))
    def leaf(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val chains = mirrors.map { case (s, m) =>
      s -> (m.indices.filter(i => i > 0 && m(i) == '/').map(m.substring(0, _)) :+ m)
    }
    val needed = chains.flatMap(_._2).distinct
    // (path, id, is a dir) of every live row holding a needed path
    val holders: Seq[(String, Long, Boolean)] = if (needed.isEmpty) Nil else dirs match {
      case Some(pathOf) =>
        val dirAt = pathOf.groupMapReduce(_._2)(_._1)(math.min)
        val probe = needed.filterNot(dirAt.contains)
          .flatMap(p => dirAt.get(parentPath(p)).map(d => (d, leaf(p)) -> p)).toMap
        val probed =
          if (probe.isEmpty) Seq.empty
          else live(file).filter(col("parentId").isin(probe.keys.map(_._1).toSeq.distinct: _*) &&
              col("name").isin(probe.keys.map(_._2).toSeq.distinct: _*))
            .select(col("parentId"), col("name"), col("id"), col("length")).collect().toSeq
            .flatMap(r => probe.get((r.getLong(0), r.getString(1)))
              .map(p => (p, r.getLong(2), r.getLong(3) == -1L)))
        needed.flatMap(p => dirAt.get(p).map((p, _, true))) ++ probed
      case None =>
        val sp = file.sparkSession
        import sp.implicits._
        StateManager.materializePaths(file)
          .join(broadcast(needed.toDF("__c")), col("path") === col("__c"), "left_semi")
          .select(col("path"), col("id"), col("length")).collect().toSeq
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2) == -1L))
    }
    // path → Some(lowest dir id), or None where only FILE rows hold it
    val held = holders.groupBy(_._1).map { case (p, hs) =>
      p -> hs.filter(_._3).map(_._2).minOption
    }
    val blocked = chains.collect {
      case (s, c) if c.exists(p => held.get(p).exists(_.isEmpty)) => s
    }.toSet
    val fresh = (chains.filterNot(c => blocked(c._1)).flatMap(_._2).distinct
        .filterNot(held.contains).map(_ -> -1L) ++
      leaves.collect { case (s, p, len) if !blocked(s) => p -> len })
      .sortBy(_._1)(StateManager.SparkStringOrder)
    val newId = fresh.iterator.zipWithIndex.map { case ((p, _), i) => p -> (idBase + i + 1) }.toMap
    val idOf = held.collect { case (p, Some(d)) => p -> d } ++ newId
    val created = fresh.map { case (p, len) =>
      val pp = parentPath(p)
      Mirrored(p, newId(p), if (pp.isEmpty) 0L else idOf(pp), leaf(p), len)
    }
    MirrorChains(blocked, created, idOf,
      created.map(_.parentId).distinct.filterNot(newId.values.toSet))
  }

  /** Trash.moveToTrash (fs/Trash.java:103-152 — FsShell delete calls it
    * first when fs.trash.interval > 0): move each live source under
    * `<trash>/Current` at a mirror of its ORIGINAL full path
    * (makeTrashRelativePath :120-121), creating the missing mirror
    * directories (:128, [[mirrorChains]]) and suffixing ".j" (j = 1..)
    * when the mirror name is taken (:142-145). Batch write-set rows:
    *  - `insert`: created mirror dirs, mkdirs attribute conventions;
    *  - `move`: one per source — new parentId/name, version bumped;
    *  - `touch`: rename semantics — old parents, pre-existing
    *    destination dirs, and live parents of created dirs;
    *  - `reject`: missing/tombstoned id ("no such file"), the root (the
    *    trash-container guard, :117), a source already inside the trash
    *    (:114 returns false), and a mirror chain blocked by an existing
    *    FILE row.
    * Requests are independent — a nested dir+child batch mirrors each at
    * its pre-move path, where the sequential reference would see the
    * child's post-move path; don't batch nested requests. The batch is
    * collected once, up to [[MirrorSourceCap]] requests; paths come from
    * the driver dir map ([[dirPaths]]), or from materializePaths above
    * `dirBroadcastLimit` dirs. */
  def moveToTrash(file: DataFrame, ids: DataFrame, idBase: Long, nowMs: Long,
                  trashName: String = ".Trash",
                  versionBump: Long = 1000000000L,
                  dirBroadcastLimit: Long = StateManager.DirMapCap): DataFrame = {
    val sp = file.sparkSession
    import sp.implicits._
    val f = live(file)
    val trashRoot = "/" + trashName
    val currentRoot = trashRoot + "/Current"
    val dirs = dirPaths(file, dirBroadcastLimit)
    val reqs = ids.select(col("id").as("__rid")).distinct()
      .join(f.select(col("id"), col("parentId"), col("name")),
        col("__rid") === col("id"), "left")
    val withPaths = dirs match {
      case Some(_) => reqs.withColumn("__path", lit(null).cast("string"))
      case None => reqs.join(StateManager.materializePaths(file)
          .select(col("id").as("__lid"), col("path").as("__path")),
        col("__rid") === col("__lid"), "left").drop("__lid")
    }
    case class Req(rid: Long, oldParent: Long, name: String, ppath: String)
    val rejects = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val ok = scala.collection.mutable.ArrayBuffer.empty[Req]
    collectSources(withPaths.select(col("__rid"), col("id"), col("parentId"),
        col("name"), col("__path")), "trash a smaller batch")
      .sortBy(_.getLong(0)).foreach { r =>
        val rid = r.getLong(0)
        val name = r.getString(3)
        // every inode appends its leaf to the PARENT dir's mapped path; a
        // null-named or unrooted row resolves no path ("no such file")
        val path: String =
          if (r.isNullAt(1)) null
          else dirs match {
            case Some(pathOf) =>
              if (rid == 0L) ""
              else if (name == null) null
              else pathOf.get(r.getLong(2)).map(_ + "/" + name).orNull
            case None => r.getString(4)
          }
        if (path == null) rejects += ((rid, "no such file"))
        else if (rid == 0L) rejects += ((rid, "cannot move root to trash"))
        else if (path == trashRoot || path.startsWith(trashRoot + "/"))
          rejects += ((rid, "already in trash"))
        else ok += Req(rid, r.getLong(2), name,
          path.substring(0, path.length - name.length - 1))
      }
    val destOf: Req => String = r => currentRoot + r.ppath
    val mc = mirrorChains(file, dirs, ok.toSeq.map(r => r.rid -> destOf(r)), Nil, idBase)
    val (blocked, okClear) = ok.toSeq.partition(r => mc.blocked(r.rid))
    blocked.foreach(r => rejects += ((r.rid, "trash path blocked by a file")))
    // collision probe: live children of PRE-EXISTING destination dirs
    // whose names extend a requested base (new dirs start empty)
    val createdPaths = mc.created.map(_.path).toSet
    val existingDestIds = okClear.map(destOf).distinct.filterNot(createdPaths).map(mc.idOf)
    val bases = okClear.map(_.name).distinct
    val taken = scala.collection.mutable.Set.empty[(Long, String)]
    if (existingDestIds.nonEmpty && bases.nonEmpty) {
      val nameHit = bases.map(b =>
        col("name") === b || col("name").startsWith(b + ".")).reduce(_ || _)
      f.filter(col("parentId").isin(existingDestIds: _*) && nameHit)
        .select(col("parentId"), col("name")).collect()
        .foreach(r => taken += ((r.getLong(0), r.getString(1))))
    }
    // a move must not collide with a mirror dir CREATED in this batch
    // either (a dir and its own descendant in one batch both claim the
    // dir's mirror name — the sequential reference cannot produce the
    // mix; the batch form resolves it with the same ".j" rule)
    mc.created.foreach(c => taken += ((c.parentId, c.name)))
    // deterministic in-batch order (dest path, base name, id) in Spark's
    // string order: each claimant takes the first free of base, base.1, …
    val moveAssign = okClear.sortBy(r => (destOf(r), r.name, r.rid))(Ordering.Tuple3(
        StateManager.SparkStringOrder, StateManager.SparkStringOrder, Ordering.Long)).map { r =>
      val d = mc.idOf(destOf(r))
      var j = 0
      var cand = r.name
      while (taken((d, cand))) { j += 1; cand = r.name + "." + j }
      taken += ((d, cand))
      (r.rid, d, cand, r.oldParent)
    }
    val inserts = mc.created.map(c => ("insert", c.id, c.parentId, c.name,
        -1L, nowMs, c.id, null: String))
      .toDF("writeOp", "id", "parentId", "name", "length", "mtime", "version", "reject")
    val movedIds = moveAssign.map(_._1).toSet
    val touchIds = (moveAssign.map(_._4) ++ existingDestIds ++ mc.reused)
      .distinct.filterNot(movedIds)
    // ONE probe of the file table serves both moves and touches: the
    // batch-bounded (id, op, newParent, newName) frame joins f once, and
    // the returned write-set plan carries no namespace scan
    val probe = (moveAssign.map(m => (m._1, "move", m._2, m._3)) ++
        touchIds.map(t => (t, "touch", 0L, null: String)))
      .toDF("__pid", "__pop", "__np", "__nn")
    val probed = f.join(broadcast(probe), col("id") === col("__pid"))
      .localCheckpoint()
    val moves = probed.filter(col("__pop") === "move")
      .select(lit("move").as("writeOp"), col("id"),
        col("__np").as("parentId"), col("__nn").as("name"), col("length"),
        lit(nowMs).as("mtime"), (col("version") + versionBump).as("version"),
        lit(null).cast("string").as("reject"))
    val touches = probed.filter(col("__pop") === "touch")
      .select(lit("touch").as("writeOp"), col("id"), col("parentId"),
        col("name"), col("length"), lit(nowMs).as("mtime"), col("version"),
        lit(null).cast("string").as("reject"))
    val rej = rejects.toSeq.map { case (rid, msg) => ("reject", rid, msg) }
      .toDF("writeOp", "id", "reject")
    inserts.unionByName(moves).unionByName(touches)
      .unionByName(rej, allowMissingColumns = true)
  }

  /** FsShell expunge (fs/FsShell.java:1122-1125 → Trash.expunge +
    * Trash.checkpoint, fs/Trash.java): every checkpoint directory under a
    * `.Trash` dir is deleted (the interval collapsed to 0 — all
    * checkpoints are aged out, the batch image of repeated expunges), then
    * the live `Current` dir is renamed to a new checkpoint stamped
    * `nowMs` (the reference stamps with a date format; the caller's clock
    * is the parameter so the write-set stays deterministic). Returns
    * tombstone rows (version negated, S6 semantics) plus one 'move' row
    * per checkpointed Current. */
  def expunge(file: DataFrame, nowMs: Long, trashName: String = ".Trash"): DataFrame = {
    val f = live(file)
    val trashDirs = f.filter(col("name") === trashName && col("length") === -1L)
      .select(col("id").as("__tid"))
    val checkpoints = f.join(broadcast(trashDirs), col("parentId") === col("__tid"))
    val aged = checkpoints.filter(col("name") =!= "Current")
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val removed = if (aged.isEmpty) f.limit(0)
      else StateManager.recursiveDelete(file, aged)
    val tombstones = removed
      .select(lit("tombstone").as("writeOp"), col("id"), col("parentId"),
        col("name"), col("version"))
    val moves = checkpoints.filter(col("name") === "Current")
      .select(lit("move").as("writeOp"), col("id"), col("parentId"),
        lit(nowMs.toString).as("name"), (col("version") + 1L).as("version"))
    tombstones.unionByName(moves)
  }

  /** Decommission lifecycle producer (startDecommission/stopDecommission +
    * checkDecommissionStateInternal, FSNamesystem.java:3183-3201,3405-3417):
    * NORMAL → DECOMMISSION_INPROGRESS → DECOMMISSIONED transitions as a
    * batch write-set over the datanode table.
    *
    * `requests`: (nodeId, op) with op ∈ start|stop.
    *  - start: a NORMAL node flips to DECOMMISSION_INPROGRESS and is
    *    immediately gate-checked (:3190 calls the check inside start) — a
    *    node holding no under-replicated blocks retires in the same batch.
    *    Nodes already in-progress/decommissioned are skipped (:3183).
    *  - stop: an in-progress or decommissioned node returns to NORMAL
    *    (:3196-3199); no counters are computed for it.
    *  - every stored DECOMMISSION_INPROGRESS node not being stopped is
    *    re-checked, folding in the DecommissionedMonitor tick (:3488).
    *
    * The reference walks nodes one at a time; the batch formulation
    * applies ALL admin transitions first and evaluates every gate against
    * that one post-transition map ([[Dataflows.decommissionStatus]]) —
    * order-independent where the sequential walk would depend on
    * iteration order.
    *
    * Write-set rows: (writeOp admin|status, id, prevAdminState,
    * adminState, the three decommissioningStatus counters (:3395, null
    * for stops), version — bumped only when the state actually changes,
    * matching updateDatanodeByDatanodeDescriptor being called only on
    * transitions). */
  def setAdminState(datanode: DataFrame, block: DataFrame, file: DataFrame,
                    requests: DataFrame): DataFrame = {
    val d = live(datanode).select(col("id"), col("adminState"), col("version"))
    // a duplicated (nodeId, op) row must not duplicate the node in the
    // effective admin map — its replicas would double-count in every
    // candidate's gate and the write-set would carry duplicate rows
    val req = requests.select(col("nodeId"), col("op")).distinct()
    val starts = d
      .join(broadcast(req.filter(col("op") === "start").select(col("nodeId"))),
        col("id") === col("nodeId"))
      .filter(col("adminState") === "NORMAL")
      .select(col("id"), col("version"))
    val stops = d
      .join(broadcast(req.filter(col("op") === "stop").select(col("nodeId"))),
        col("id") === col("nodeId"))
      .filter(col("adminState") =!= "NORMAL")
      .select(col("id"), col("adminState"), col("version"))
    val checks = d.filter(col("adminState") === "DECOMMISSION_INPROGRESS")
      .join(broadcast(stops.select(col("id").as("__sid"))),
        col("id") === col("__sid"), "left_anti")
      .select(col("id"), col("version"))
    val eff = d
      .join(broadcast(starts.select(col("id").as("__st"))),
        col("id") === col("__st"), "left")
      .join(broadcast(stops.select(col("id").as("__sp"))),
        col("id") === col("__sp"), "left")
      .select(col("id"),
        when(col("__st").isNotNull, lit("DECOMMISSION_INPROGRESS"))
          .when(col("__sp").isNotNull, lit("NORMAL"))
          .otherwise(col("adminState")).as("effState"))
    val cand = starts.select(col("id").as("nodeId"))
      .unionByName(checks.select(col("id").as("nodeId")))
    val status = graft.analytics.Dataflows
      .decommissionStatus(block, file, eff, cand)
      .select(col("nodeId").as("__n"), col("underReplicatedBlocks"),
        col("decommissionOnlyReplicas"), col("underReplicatedInOpenFiles"),
        col("replicationDone"))
    // union the gated node sets BEFORE the status join: joining per set
    // would evaluate the whole decommissionStatus DAG (the expensive
    // block-table aggregation) once per branch instead of once total
    val gateNodes = starts
      .withColumn("prevAdminState", lit("NORMAL"))
      .unionByName(checks
        .withColumn("prevAdminState", lit("DECOMMISSION_INPROGRESS")))
    val gated = gateNodes.join(status, col("id") === col("__n")).drop("__n")
      .withColumn("adminState",
        when(col("replicationDone"), "DECOMMISSIONED")
          .otherwise("DECOMMISSION_INPROGRESS"))
      .withColumn("writeOp",
        when(col("adminState") =!= col("prevAdminState"), "admin")
          .otherwise("status"))
      .withColumn("version",
        when(col("adminState") =!= col("prevAdminState"), col("version") + 1L)
          .otherwise(col("version")))
      .select(col("writeOp"), col("id"), col("prevAdminState"),
        col("adminState"), col("underReplicatedBlocks"),
        col("decommissionOnlyReplicas"), col("underReplicatedInOpenFiles"),
        col("version"))
    val stopRows = stops
      .select(lit("admin").as("writeOp"), col("id"),
        col("adminState").as("prevAdminState"), lit("NORMAL").as("adminState"),
        lit(null).cast("long").as("underReplicatedBlocks"),
        lit(null).cast("long").as("decommissionOnlyReplicas"),
        lit(null).cast("long").as("underReplicatedInOpenFiles"),
        (col("version") + 1L).as("version"))
    gated.unionByName(stopRows)
  }

  /** Per-(fileId, fileIndex) BlockEntry primary over a replica frame:
    * argmax by (generationStamp, version) (BlockEntry.java:47-51) —
    * THE single home of the primary formula shared by the lease-release
    * and block-synchronization producers (its DuckDB twin is
    * MutationQueries.primaryEntriesSql; the two must stay identical).
    * Input needs (id, fileId, fileIndex, length, generationStamp,
    * version); returns (fileId, fileIndex, __blockId, __primLen). */
  private def primaryEntries(replicas: DataFrame): DataFrame = {
    val ord = struct(col("generationStamp"), col("version"))
    replicas.groupBy(col("fileId"), col("fileIndex"))
      .agg(max_by(col("id"), ord).as("__blockId"),
           max_by(col("length"), ord).as("__primLen"))
  }

  /** Lease release write-set (internalReleaseLeaseOne,
    * FSNamesystem.java:1506-1563 + finalizeINodeFileUnderConstruction
    * :1565-1572; driven by LeaseMonitor hard expiry and recoverLease
    * :931-960): every under-construction file of a released holder takes
    * ONE of three transitions, decided by its LAST block entry's targets:
    *
    *  - NO targets (no block rows, only NULL_DATANODE flag rows, or
    *    every replica's datanode row missing — the reference skips
    *    unknown descriptors, state/StateManager.java:296-305) →
    *    'finalize': length = Σ per-index primary lengths > 0
    *    (BlockEntry.getTotalLength, block/BlockEntry.java:158-164),
    *    leaseHolder cleared, leaseRecoveryTime 0, version bumped.
    *  - an ALIVE target exists → one 'recover' command row: the primary
    *    is chosen by rotating from nowMs % n over the nodeId-sorted
    *    target list (the reference rotates a now()-seeded index over its
    *    arrival-order array :1548-1554 — the RNG pinned to a replayable
    *    order, the N7 convention); the file row itself is untouched
    *    (addBlockToBeRecovered is the N9 command plane).
    *  - targets but NONE alive → 'nnlease': leaseHolder becomes
    *    NN_Recovery (:1557-1559, HdfsConstants.NN_RECOVERY_LEASEHOLDER)
    *    with a version bump, plus ONE 'lease' renew row for NN_Recovery
    *    stamped nowMs (renewLease :1559).
    *
    * Alive = heartbeat within HeartbeatExpiryMs (the datanodeReport
    * rule); targets exclude datanodeId 0 (Datanode.NULL_DATANODE_ID,
    * BlockEntry.getBlockList(false)). Per-file windows are bounded by
    * replica counts — nothing global. Output rows: (writeOp
    * finalize|recover|nnlease|lease, tbl file|cmd|lease, id, length,
    * leaseHolder, leaseRecoveryTime, blockId, primaryNodeId, version). */
  def releaseLeases(file: DataFrame, block: DataFrame, datanode: DataFrame,
                    holders: DataFrame, nowMs: Long): DataFrame = {
    val hs = holders.select(col("holder").as("__h")).distinct()
    val uc = live(file)
      .join(broadcast(hs), col("leaseHolder") === col("__h"))
      .select(col("id").as("__fid"), col("version").as("__fver"))
    val fb = live(block)
      .join(broadcast(uc.select(col("__fid"))), col("fileId") === col("__fid"))
    val perFile = primaryEntries(fb).groupBy(col("fileId"))
      .agg(sum(when(col("__primLen") > 0, col("__primLen")).otherwise(0L))
             .as("__totalLen"),
           max_by(col("__blockId"), col("fileIndex")).as("__lastBlockId"),
           max(col("fileIndex")).as("__lastIdx"))
      .select(col("fileId").as("__pf"), col("__totalLen"),
        col("__lastBlockId"), col("__lastIdx"))
    val lastReps = fb.filter(col("datanodeId") =!= 0L)
      .join(perFile.select(col("__pf"), col("__lastIdx")),
        col("fileId") === col("__pf") && col("fileIndex") === col("__lastIdx"))
      .select(col("fileId").as("__tf"), col("datanodeId")).distinct()
    // inner join: a replica whose datanode row is missing contributes no
    // target (getDatanodeDescriptorListByBlockList skips nulls)
    val targets = lastReps
      .join(live(datanode).select(col("id").as("__did"),
          (col("lastUpdated") >= nowMs - StateManager.HeartbeatExpiryMs)
            .as("__alive")),
        col("datanodeId") === col("__did"))
      .select(col("__tf"), col("datanodeId"), col("__alive"))
    val wT = Window.partitionBy(col("__tf")).orderBy(col("datanodeId"))
    val rotated = targets
      .withColumn("__rk", row_number().over(wT) - 1)
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__tf"))))
      .withColumn("__rot",
        ((col("__rk") - lit(nowMs) % col("__n")) % col("__n") + col("__n"))
          % col("__n"))
    val targetStats = rotated.groupBy(col("__tf"))
      .agg(count(lit(1)).as("__nTargets"),
           sum(when(col("__alive"), 1L).otherwise(0L)).as("__nAlive"))
    val primary = rotated.filter(col("__alive"))
      .groupBy(col("__tf").as("__prf"))
      .agg(min_by(col("datanodeId"), col("__rot")).as("__primary"))
    // one classification row per file, pinned: the three output branches
    // plus the renew count would otherwise each re-run the block-table
    // aggregations and rotation windows (localCheckpoint frees on GC)
    val cls = uc
      .join(perFile, col("__fid") === col("__pf"), "left")
      .join(targetStats, col("__fid") === col("__tf"), "left")
      .join(primary, col("__fid") === col("__prf"), "left")
      .select(col("__fid"), col("__fver"),
        coalesce(col("__totalLen"), lit(0L)).as("__totalLen"),
        col("__lastBlockId"),
        coalesce(col("__nTargets"), lit(0L)).as("__nTargets"),
        coalesce(col("__nAlive"), lit(0L)).as("__nAlive"),
        col("__primary"))
      .localCheckpoint()
    val finalizes = cls.filter(col("__nTargets") === 0L)
      .select(lit("finalize").as("writeOp"), lit("file").as("tbl"),
        col("__fid").as("id"), col("__totalLen").as("length"),
        lit(null).cast("string").as("leaseHolder"),
        lit(0L).as("leaseRecoveryTime"),
        lit(null).cast("long").as("blockId"),
        lit(null).cast("long").as("primaryNodeId"),
        (col("__fver") + 1L).as("version"))
    val recovers = cls.filter(col("__nAlive") > 0L)
      .select(lit("recover").as("writeOp"), lit("cmd").as("tbl"),
        col("__fid").as("id"), lit(null).cast("long").as("length"),
        lit(null).cast("string").as("leaseHolder"),
        lit(null).cast("long").as("leaseRecoveryTime"),
        col("__lastBlockId").as("blockId"), col("__primary").as("primaryNodeId"),
        col("__fver").as("version"))
    val nnleases = cls.filter(col("__nTargets") > 0L && col("__nAlive") === 0L)
      .select(lit("nnlease").as("writeOp"), lit("file").as("tbl"),
        col("__fid").as("id"), lit(null).cast("long").as("length"),
        lit("NN_Recovery").as("leaseHolder"),
        lit(null).cast("long").as("leaseRecoveryTime"),
        lit(null).cast("long").as("blockId"),
        lit(null).cast("long").as("primaryNodeId"),
        (col("__fver") + 1L).as("version"))
    val renew = nnleases.groupBy().agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 0)
      .select(lit("lease").as("writeOp"), lit("lease").as("tbl"),
        lit(-1L).as("id"), lit(null).cast("long").as("length"),
        lit("NN_Recovery").as("leaseHolder"),
        lit(null).cast("long").as("leaseRecoveryTime"),
        lit(null).cast("long").as("blockId"),
        lit(null).cast("long").as("primaryNodeId"),
        lit(nowMs).as("version"))
    finalizes.unionByName(recovers).unionByName(nnleases).unionByName(renew)
  }

  /** commitBlockSync's new-row version base, derived from the DATA
    * instead of a scale-coupled constant: the next 10M boundary above
    * the max live block version. Any caller-side margin this wide keeps
    * fresh rows above every tombstone magnitude the S6 latest-wins
    * replay will ever compare them against, at any scale factor. The
    * oracle computes the same integer arithmetic in a CTE. */
  def blockSyncVersionBase(block: DataFrame): Long = {
    val maxVer = live(block).agg(coalesce(max(col("version")), lit(0L)))
      .collect()(0).getLong(0)
    (maxVer / 10000000L + 1L) * 10000000L
  }

  /** dfs.max.objects gate (checkFsObjectLimit, FSNamesystem.java:4070-4073,
    * invoked by startFile :1031 and mkdirs :1451): when the configured cap
    * is non-zero and file rows + block rows already meet it, the request
    * refuses BEFORE creating anything — the reference throws the same
    * way. Callers gate their write-set ops with it; 0 (the reference's
    * default) disables the two counts entirely. */
  def checkFsObjectLimit(file: DataFrame, block: DataFrame,
                         maxFsObjects: Long): Unit =
    if (maxFsObjects != 0) {
      val n = live(file).count() + live(block).count()
      if (maxFsObjects <= n)
        throw new IllegalStateException(
          s"Exceeded the configured number of objects $maxFsObjects in the filesystem.")
    }

  /** abandonBlock (FSNamesystem.java:1065-1080 + checkLease :1086-1093):
    * the client lets go of one block of its under-construction file —
    * every replica row of the block is tombstoned (deleteBlockById),
    * gated by the full checkLease ladder. `requests`: (fileId, blockId,
    * holder). Reject reasons mirror the LeaseExpiredException cases in
    * checkLease's order: missing/tombstoned file, directory, completed
    * file (no leaseHolder), null holder, wrong holder. A lease-valid
    * request whose block has no live rows deletes nothing and is NOT a
    * reject — the reference returns true regardless. Safe-mode is the
    * caller's gate (N14), as for every write-set op. */
  def abandonBlock(file: DataFrame, block: DataFrame,
                   requests: DataFrame): DataFrame = {
    val f = live(file).select(col("id").as("__fid"),
      col("length").as("__flen"), col("leaseHolder").as("__flh"))
    val reqs = requests.select(col("fileId"), col("blockId"), col("holder"))
      .distinct()
      .join(f, col("fileId") === col("__fid"), "left")
      .withColumn("reject",
        when(col("__fid").isNull, "file not found")
          .when(col("__flen") === -1L, "file is a directory")
          .when(col("__flh").isNull, "file not under construction")
          .when(col("holder").isNull, "null holder")
          .when(col("holder") =!= col("__flh"), "wrong holder"))
    // one left join instead of a tombstones∪rejects union: a rejected
    // request keeps its single row (the join condition requires a clear
    // reject), a valid one fans out to its replica rows, and a valid
    // no-op (no live rows) drops out below
    val replicas = live(block).select(col("id").as("__ab"),
      col("datanodeId"), col("version").as("__bv"))
    reqs.join(replicas,
        col("blockId") === col("__ab") && col("reject").isNull, "left")
      .filter(col("reject").isNotNull || col("datanodeId").isNotNull)
      .select(
        when(col("reject").isNull, lit("tombstone")).otherwise(lit("reject"))
          .as("writeOp"),
        col("fileId"), col("blockId"),
        when(col("reject").isNull, col("datanodeId")).as("datanodeId"),
        when(col("reject").isNull, -col("__bv")).as("version"),
        col("reject"))
  }

  /** commitBlockSynchronization write-set (FSNamesystem.java:1575-1639)
    * — the APPLY side of lease recovery: the primary datanode reports
    * the synchronized last block back. Per request (blockId,
    * newGenStamp, closeFile, deleteBlock, targets):
    *
    *  - reject when the block has no live rows, its file is gone, or the
    *    file is not under construction (:1586-1592; the safe-mode gate is
    *    transient namenode memory — N14 computes the ratio as analysis,
    *    there is no global mode bit in the table model).
    *  - deleteBlock → tombstone EVERY row of the block, flag row
    *    included (deleteBlockById :1596).
    *  - otherwise: tombstone the old replica rows (:1610-1613), insert
    *    one under-construction row (length −1, the new genstamp) per
    *    target with a KNOWN datanode row (:1615-1623, unknown targets
    *    ignored), and reconcile the NULL_DATANODE flag row — it must
    *    exist exactly when no valid target was added (insert :1603-1608,
    *    delete-when-added :1625-1627).
    *  - closeFile → 'finalize' the file against the POST-update block
    *    image (finalizeINodeFileUnderConstruction :1629-1633): length =
    *    Σ per-index primary lengths > 0 (the fresh rows carry −1, so a
    *    just-synced entry contributes nothing until its replicas
    *    re-report — the reference's re-read does the same), holder
    *    cleared, version bumped. newLength is logged, never stored
    *    (:1631 reads the block entries, not the argument) — omitted.
    *
    * At most one request per blockId: exact duplicates collapse; among
    * conflicting ones the (newGenStamp, closeFile, deleteBlock,
    * targets)-max wins deterministically (the full-key tiebreak every
    * sibling dedup window uses). New-row versions are versionBase + the
    * distributed (blockId, datanodeId) rank — versionBase must exceed
    * every live block version, or the S6 latest-wins replay (max
    * |version| per key) would let a fresh row's own tombstone outrank
    * it. Tombstones negate the old version. Output rows: (writeOp
    * insert|tombstone|finalize|reject, tbl block|file, id, datanodeId,
    * length, generationStamp, fileId, fileIndex, version, reject). */
  def commitBlockSync(file: DataFrame, block: DataFrame, datanode: DataFrame,
                      requests: DataFrame, versionBase: Long): DataFrame = {
    val b = live(block)
    // enforce the precondition instead of silently corrupting: a fresh
    // row versioned below its own tombstone's magnitude would LOSE the
    // S6 max-|version| replay, permanently dropping the re-targeted
    // replica. One projection-pruned scan on the recovery path is cheap
    // insurance against that.
    val maxVer = b.agg(coalesce(max(col("version")), lit(0L)))
      .collect()(0).getLong(0)
    require(maxVer < versionBase,
      s"versionBase=$versionBase must exceed every live block version " +
      s"(max=$maxVer) or latest-wins replay resurrects tombstones")
    val dupW = Window.partitionBy(col("blockId"))
      .orderBy(col("newGenStamp").desc, col("closeFile").desc,
        col("deleteBlock").desc, col("targets").desc)
    val reqs = requests
      .select(col("blockId"), col("newGenStamp"), col("closeFile"),
        col("deleteBlock"), col("targets")).distinct()
      .withColumn("__dup", row_number().over(dupW))
      .filter(col("__dup") === 1).drop("__dup")
    // pinned: the block∩requests rows feed the classification AND the
    // tombstone branch (which the finalize post-image anti-joins again)
    val reqRows = b.join(broadcast(reqs), col("id") === col("blockId"))
      .localCheckpoint()
    val meta = reqRows.groupBy(col("blockId").as("__mb"))
      .agg(max(col("fileId")).as("__mfid"),
           max(col("fileIndex")).as("__midx"),
           max(when(col("datanodeId") === 0L, 1L).otherwise(0L)).as("__hasFlag"))
    val fdim = live(file).select(col("id").as("__fbid"),
      col("leaseHolder").as("__flh"), col("version").as("__fbver"))
    // pinned: every output branch (tombstones, inserts, finalizes,
    // rejects) reads this classification
    val classified = reqs
      .join(meta, col("blockId") === col("__mb"), "left")
      .join(fdim, col("__mfid") === col("__fbid"), "left")
      .withColumn("reject",
        when(col("__mb").isNull, "block not found")
          .when(col("__fbid").isNull, "file not found")
          .when(col("__flh").isNull, "file not under construction"))
      .localCheckpoint()
    val good = classified.filter(col("reject").isNull)
    // targets with a KNOWN datanode row; duplicate targets collapse
    val valid = good.filter(!col("deleteBlock"))
      .select(col("blockId"), col("newGenStamp"), col("__mfid"), col("__midx"),
        explode(col("targets")).as("__t")).distinct()
      .join(broadcast(live(datanode).select(col("id").as("__dnid"))),
        col("__t") === col("__dnid"))
    val nValid = valid.groupBy(col("blockId").as("__vb"))
      .agg(count(lit(1)).as("__nValid"))
    val gf = good.join(nValid, col("blockId") === col("__vb"), "left")
      .withColumn("__nValid", coalesce(col("__nValid"), lit(0L)))
    // new replica rows ∪ (flag rows for no-target syncs with no standing
    // flag) — ranked together so versions stay collision-free
    val insertKeys = valid
      .select(col("blockId"), col("__t").as("datanodeId"),
        col("newGenStamp"), col("__mfid"), col("__midx"))
      .unionByName(gf
        .filter(!col("deleteBlock") && col("__nValid") === 0L &&
          col("__hasFlag") === 0L)
        .select(col("blockId"), lit(0L).as("datanodeId"),
          col("newGenStamp"), col("__mfid"), col("__midx")))
    val inserts = globalRank(insertKeys, "__rk", col("blockId"), col("datanodeId"))
      .select(lit("insert").as("writeOp"), lit("block").as("tbl"),
        col("blockId").as("id"), col("datanodeId"),
        lit(-1L).as("length"), col("newGenStamp").as("generationStamp"),
        col("__mfid").as("fileId"), col("__midx").as("fileIndex"),
        (lit(versionBase) + col("__rk")).as("version"),
        lit(null).cast("string").as("reject"))
    val gInfo = gf.select(col("blockId").as("__gb"),
      col("deleteBlock").as("__del"), col("__nValid"), col("__hasFlag"))
    val tombs = reqRows.join(gInfo, col("blockId") === col("__gb"))
      .filter(col("__del") || col("datanodeId") =!= 0L ||
        (col("datanodeId") === 0L && col("__nValid") > 0L))
      .select(lit("tombstone").as("writeOp"), lit("block").as("tbl"),
        col("id"), col("datanodeId"), col("length"), col("generationStamp"),
        col("fileId"), col("fileIndex"), (-col("version")).as("version"),
        lit(null).cast("string").as("reject"))
    // closeFile: finalize against the post-update block image
    val affFiles = good.filter(col("closeFile"))
      .select(col("__mfid").as("__cf"), col("__fbver")).distinct()
    val post = b.join(broadcast(affFiles), col("fileId") === col("__cf"))
      .join(tombs.select(col("id").as("__tbid"), col("datanodeId").as("__tdn")),
        col("id") === col("__tbid") && col("datanodeId") === col("__tdn"),
        "left_anti")
      .select(col("id"), col("fileId"), col("fileIndex"), col("length"),
        col("generationStamp"), col("version"))
      .unionByName(inserts
        .join(broadcast(affFiles), col("fileId") === col("__cf"))
        .select(col("id"), col("fileId"), col("fileIndex"), col("length"),
          col("generationStamp"), col("version")))
    val totals = primaryEntries(post).groupBy(col("fileId"))
      .agg(sum(when(col("__primLen") > 0, col("__primLen")).otherwise(0L))
        .as("__tot"))
    val finalizes = affFiles
      .join(totals, col("__cf") === col("fileId"), "left")
      .select(lit("finalize").as("writeOp"), lit("file").as("tbl"),
        col("__cf").as("id"), lit(null).cast("long").as("datanodeId"),
        coalesce(col("__tot"), lit(0L)).as("length"),
        lit(null).cast("long").as("generationStamp"),
        col("__cf").as("fileId"), lit(null).cast("long").as("fileIndex"),
        (col("__fbver") + 1L).as("version"),
        lit(null).cast("string").as("reject"))
    val rejects = classified.filter(col("reject").isNotNull)
      .select(lit("reject").as("writeOp"), lit("block").as("tbl"),
        col("blockId").as("id"), lit(null).cast("long").as("datanodeId"),
        lit(null).cast("long").as("length"),
        col("newGenStamp").as("generationStamp"),
        col("__mfid").as("fileId"), lit(null).cast("long").as("fileIndex"),
        lit(0L).as("version"), col("reject"))
    tombs.unionByName(inserts).unionByName(finalizes).unionByName(rejects)
  }

  /** S17/N9 (updateDatanodeByDatanodeDescriptor + handleHeartbeat): keyed
    * upsert of registrations; a storageId collision deletes the old node
    * row (re-registration under a new id). Returns the post-upsert
    * datanode table. */
  def datanodeUpsert(datanode: DataFrame, registrations: DataFrame): DataFrame = {
    val d = live(datanode)
    val survivors = d
      .join(registrations.select(col("id").as("__rid")), col("id") === col("__rid"), "left_anti")
      .join(registrations.select(col("storageId").as("__rsid")),
        col("storageId") === col("__rsid"), "left_anti")
    survivors.unionByName(registrations.select(d.columns.toIndexedSeq.map(col): _*))
  }
}
