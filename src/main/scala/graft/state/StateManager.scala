package graft.state

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.store.StateStore

/** The namespace query layer (SURVEY §2.3, A/state/StateManager.java) as
  * pure DataFrame transformations over the four state tables. Every
  * function takes snapshot DataFrames and returns a DataFrame — Catalyst
  * plans the joins/aggregations; nothing is collected to the driver except
  * loop termination checks in the iterative (recursive-CTE-like) ops.
  *
  * Scale notes: path/descendant recursion joins per level on
  * (parentId, name) — at cluster scale the file table should be bucketed
  * by parentId so each level is a co-partitioned join; the frontier is
  * always small relative to the table and is broadcast.
  */
object StateManager {

  /** Heartbeat liveness window: 2×heartbeat.recheck + 10×heartbeat.interval
    * shape from the reference's FSNamesystem; pinned here to 10 min. */
  val HeartbeatExpiryMs: Long = 600000L

  private def live(df: DataFrame): DataFrame = StateStore.live(df)

  // ---- S1: path resolution (StateManager.java:681-699) -----------------

  /** Most live dirs the dir-map fast paths collect to the driver
    * (`dirBroadcastLimit` of resolvePaths, materializePaths, rename,
    * moveToTrash and Dataflows.contentSummary). */
  val DirMapCap: Long = 2000000L

  /** Collect the live directory tree as a parent → children adjacency
    * when it fits under `limit` rows of driver memory; None above it.
    * The dir subset is tiny relative to files (the reference's namenode
    * held the whole tree in RAM), so the common case at any scale is
    * Some — the iterative join loops remain the unbounded fallback. */
  private[graft] def collectDirChildren(
      f: DataFrame, limit: Long,
      needNames: Boolean = true): Option[Map[Long, Seq[(Long, String)]]] = {
    // collect limit+1 rows in ONE action (a separate count would compute
    // the input twice when it is a derived view); >limit rows → too big.
    // Clamp before +1: a huge limit must not overflow into limit(0).
    val n = math.min(math.max(limit, 0L), (Int.MaxValue - 2).toLong).toInt + 1
    val nameCol = if (needNames) col("name") else lit("").as("name")
    // when names matter, a null-named dir must not enter the map: path
    // concatenation would fabricate a "/null" segment for a subtree the
    // iterative loops drop (null never equi-joins on name)
    val dirs = f.filter(col("length") === -1L)
    val named = if (needNames) dirs.filter(col("name").isNotNull) else dirs
    val rows = named
      .select(col("id"), col("parentId"), nameCol)
      .limit(n)
      .collect()
    if (rows.length >= n) None
    else Some(rows.toSeq
      .groupBy(_.getLong(1))
      .view.mapValues(_.map(r => (r.getLong(0), r.getString(2)))).toMap)
  }

  /** Root-down (dirId, fullPath) pairs for dirs of depth ≤ `maxDirDepth`
    * (root = depth 0); dirs not reachable from the root are excluded
    * (matching the join loops, which never visit them). Callers that then
    * join CHILDREN of these dirs must pass their depth bound minus one so
    * results stop at the same depth as the iterative fallback. */
  private[graft] def dirPathPairs(children: Map[Long, Seq[(Long, String)]],
                                  maxDirDepth: Int): Seq[(Long, String)] = {
    val pathOf = scala.collection.mutable.LongMap.empty[String]
    pathOf(0L) = ""
    var frontier = Seq(0L)
    var lvl = 0
    while (frontier.nonEmpty && lvl < maxDirDepth) {
      frontier = frontier.flatMap { p =>
        children.getOrElse(p, Nil).collect { case (id, name) if id != p && id != 0L =>
          pathOf(id) = pathOf(p) + "/" + name
          id
        }
      }
      lvl += 1
    }
    pathOf.toSeq
  }

  /** Resolve absolute paths root-down. `paths` needs a `path` column;
    * output appends the resolved file's columns. Paths that don't resolve
    * are dropped (reference returns null entries).
    *
    * Fast path (dir tree fits on the driver): look the PARENT directory
    * up in the broadcast dir-path map and resolve the leaf with one join
    * — no per-level walk. Falls back to the per-depth join loop. */
  def resolvePaths(file: DataFrame, paths: DataFrame, maxDepth: Int = 16,
                   dirBroadcastLimit: Long = DirMapCap): DataFrame = {
    val fBase = live(file)
    // absolute paths only — a relative path is unresolvable by contract
    // (consistent across the fast and iterative routes)
    val absPaths = paths.filter(col("path").startsWith("/"))
    collectDirChildren(fBase, dirBroadcastLimit) match {
      case Some(children) =>
        val spark = file.sparkSession
        import spark.implicits._
        // dirs to depth maxDepth-1: the leaf join below adds one level
        val dirPaths = dirPathPairs(children, maxDepth - 1)
          .map { case (id, p) => (p, id) }.toDF("__dpath", "__did")
        val reqs = absPaths.select(col("path"))
          .withColumn("__leaf", substring_index(col("path"), "/", -1))
          .withColumn("__pp",
            expr("substring(path, 1, length(path) - length(__leaf) - 1)"))
        reqs.join(broadcast(dirPaths), col("__pp") === col("__dpath"))
          .join(fBase, col("parentId") === col("__did") && col("name") === col("__leaf"))
          .select(col("path") +: fBase.columns.toSeq.map(col): _*)
      case None => resolvePathsIterative(fBase, absPaths, maxDepth)
    }
  }

  /** Translate ONE glob path component to an anchored regex —
    * FileSystem.globStatus / GlobExpander semantics
    * (C/org/apache/hadoop/fs/FileSystem.java glob family, GlobExpander
    * for {a,b}): `*` and `?` never cross a separator, `[...]` character
    * classes (incl. leading-^ negation and ranges) pass through, `{a,b}`
    * becomes alternation, backslash escapes the next char, every other
    * regex metacharacter is escaped literal. The anchors make Spark's
    * partial-match rlike and DuckDB's regexp_matches agree. */
  private[graft] def globToRegex(comp: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    var inBracket = false
    var braceDepth = 0
    while (i < comp.length) {
      val c = comp.charAt(i)
      if (inBracket) {
        if (c == ']') inBracket = false
        sb += c
      } else c match {
        case '*' => sb ++= "[^/]*"
        case '?' => sb ++= "[^/]"
        case '[' => inBracket = true; sb += '['
        case '{' => braceDepth += 1; sb += '('
        case '}' if braceDepth > 0 => braceDepth -= 1; sb += ')'
        case ',' if braceDepth > 0 => sb += '|'
        case '\\' if i + 1 < comp.length =>
          i += 1; sb ++= java.util.regex.Pattern.quote(comp.charAt(i).toString)
        case ch if "\\.[]{}()*+?^$|".indexOf(ch.toInt) >= 0 => sb += '\\'; sb += ch
        case ch => sb += ch
      }
      i += 1
    }
    sb += '$'
    sb.toString
  }

  /** S1 with glob components (FileSystem.globStatus + GlobExpander;
    * TestGlobPaths): expand absolute glob patterns against the live
    * namespace. Returns (pattern, path, <file columns>) — one row per
    * matched node, every pattern in one pass. The walk is the
    * resolvePaths level loop with a per-level REGEX name match instead
    * of equality: the (pattern × matched-dir) frontier broadcasts into a
    * map-side join against the file scan, so the namespace itself never
    * shuffles. The frontier is bounded by the matches per level — a
    * degenerate all-wildcard pattern makes it the whole directory level,
    * which is the glob's real answer set, not an artifact. */
  def resolveGlobs(file: DataFrame, patterns: Seq[String],
                   maxDepth: Int = 16): DataFrame = {
    val fBase = live(file)
    val spark = file.sparkSession
    import spark.implicits._
    val cols = fBase.columns.toSeq
    val reqs = patterns.distinct.filter(_.startsWith("/"))
      .map(p => (p, p.split("/").filter(_.nonEmpty).toSeq.map(globToRegex)))
    val maxComps = (0 +: reqs.map(_._2.length)).max
    val reqDf = reqs.toDF("pattern", "__regex")
      .withColumn("__depth", size(col("__regex")))
    var frontier = reqDf.withColumn("__cur", lit(0L))
      .withColumn("__ppath", lit(""))
    var out = reqDf.select(col("pattern")).limit(0)
      .withColumn("path", lit("")).crossJoin(fBase.limit(0))
    for (lvl <- 1 to math.min(maxDepth, maxComps)) {
      val pfx = s"__g${lvl}_"
      val f = fBase.select(cols.map(c => col(c).as(pfx + c)): _*)
      val step = broadcast(frontier.filter(col("__depth") >= lvl))
        .join(f, col(pfx + "parentId") === col("__cur") &&
          regexp_like(col(pfx + "name"), element_at(col("__regex"), lvl)))
        .withColumn("__mpath",
          concat(col("__ppath"), lit("/"), col(pfx + "name")))
      val resolved = step.filter(col("__depth") === lvl)
        .select(col("pattern") +: col("__mpath").as("path") +:
          cols.map(c => col(pfx + c).as(c)): _*)
      out = out.unionByName(resolved)
      frontier = step.filter(col("__depth") > lvl)
        .select(col("pattern"), col("__regex"), col("__depth"),
          col(pfx + "id").as("__cur"), col("__mpath").as("__ppath"))
    }
    out
  }

  private def resolvePathsIterative(fBase: DataFrame, paths: DataFrame,
                                    maxDepth: Int): DataFrame = {
    // NOT persisted: unlike materializePaths/descendants this loop takes no
    // per-level actions — every level lands in ONE final plan, where a
    // persist would only add cache-write overhead (measured slower)
    val cols = fBase.columns.toSeq
    // components: split('/a/b/c') -> ['', 'a', 'b', 'c']; depth = size-1
    val withParts = paths
      .withColumn("__parts", split(col("path"), "/"))
      .withColumn("__depth", size(col("__parts")) - 1)
    var frontier = withParts.withColumn("__cur", lit(0L))
    // empty frame with the output schema (path + file columns), so callers
    // get a valid DataFrame even when no request reaches depth >= 1
    var out: DataFrame =
      withParts.select(col("path")).limit(0).crossJoin(fBase.limit(0))
    // one upfront job to learn the deepest request — cheaper than a
    // per-level emptiness probe (one action instead of one per level)
    val dataDepth = withParts.agg(max(col("__depth"))).head() match {
      case r if r.isNullAt(0) => 0
      case r => r.getInt(0)
    }
    for (lvl <- 1 to math.min(maxDepth, dataDepth)) {
      // level-specific column prefix avoids self-join ambiguity across
      // repeated joins of the same file DataFrame
      val pfx = s"__f${lvl}_"
      val f = fBase.select(cols.map(c => col(c).as(pfx + c)): _*)
      // the frontier (pending paths) is small relative to the table —
      // broadcast it so each level is a map-side join against `file`
      val step = broadcast(frontier.filter(col("__depth") >= lvl))
        .join(f, col(pfx + "parentId") === col("__cur") &&
          col(pfx + "name") === element_at(col("__parts"), lvl + 1))
      val resolved = step.filter(col("__depth") === lvl)
        .select(col("path") +: cols.map(c => col(pfx + c).as(c)): _*)
      out = out.unionByName(resolved)
      frontier = step.filter(col("__depth") > lvl)
        .select(col("path"), col("__parts"), col("__depth"),
          col(pfx + "id").as("__cur"))
    }
    out
  }

  // ---- S2: reverse path build (findFileById, :647-659) -----------------

  /** Materialize the full path of every live file by walking the tree from
    * the root downward (equivalent to per-id upward recursion, but done
    * once for the whole namespace — the fsimage-export F11 shape).
    * Returns (id, path) plus the file columns.
    *
    * Fast path: the DIRECTORY subset is small relative to files (the
    * reference's namenode held the whole tree in RAM), so when it fits
    * under `dirBroadcastLimit` the dir paths are built driver-side and
    * every row resolves with ONE broadcast join — no per-level jobs.
    * Larger trees fall back to the iterative per-level join loop. */
  def materializePaths(file: DataFrame, maxDepth: Int = 16,
                       dirBroadcastLimit: Long = DirMapCap): DataFrame = {
    val f = live(file)
    collectDirChildren(f, dirBroadcastLimit) match {
      case Some(children) =>
        // the loop walks from the live ROOT row; if it is absent
        // (tombstoned snapshot) the result is empty — match that instead
        // of fabricating paths from an assumed root
        if (!children.valuesIterator.flatten.exists(_._1 == 0L))
          return f.limit(0).withColumn("path", lit(""))
        val spark = file.sparkSession
        import spark.implicits._
        // dirs to depth maxDepth-1: the child join below adds one level,
        // landing on the same depth bound as the iterative loop
        val dirPaths = dirPathPairs(children, maxDepth - 1).toDF("__pid", "__ppath")
        f.join(broadcast(dirPaths), col("parentId") === col("__pid"), "left")
          .withColumn("path",
            when(col("id") === 0L, lit(""))
              .otherwise(concat(col("__ppath"), lit("/"), col("name"))))
          .filter(col("id") === 0L || col("__ppath").isNotNull)
          .drop("__pid", "__ppath")
      case None =>
        walkDown(f, _.filter(col("id") === 0L).withColumn("path", lit("")),
          carry = Seq("path"),
          step = _.withColumn("path", concat(col("path"), lit("/"), col("name"))),
          maxDepth, refuse = None)
    }
  }

  /** The root-down walk behind materializePaths, descendants,
    * recursiveDelete, Mutations.copy and Dataflows.contentSummary — the
    * per-level form of the reference's in-memory tree walk (the Spark
    * recursive CTE). `files` is the live file frame, pinned once for
    * the walk; level 0 is `seed` of it. Each next level is the rows of
    * `files` (never the root) whose parentId is an id of the last level,
    * with the parent's `carry` columns, shaped by `step`. Every level is
    * persisted and counted, so the next one broadcasts a materialized
    * frontier, and the walk stops at the first empty level or after
    * `maxDepth` levels. A frontier still live there is cut when `refuse`
    * is None (the dir-map fast paths stop at the same depth); with
    * Some(op) the walk probes one level deeper and throws if anything
    * lies there, since a cut subtree would orphan its deeper levels (a
    * subtree whose deepest level sits exactly at the cap is complete).
    * Returns the union of all levels as a checkpoint and releases every
    * pin itself (graft.core.Caching). */
  private[graft] def walkDown(files: DataFrame, seed: DataFrame => DataFrame,
                              carry: Seq[String], step: DataFrame => DataFrame,
                              maxDepth: Int, refuse: Option[String]): DataFrame = {
    val f = files.persist()
    val pinned = scala.collection.mutable.ArrayBuffer(f)
    def children(parents: DataFrame): DataFrame =
      f.join(broadcast(parents.select(col("id").as("__pid") +: carry.map(col): _*)),
          col("parentId") === col("__pid"))
        .drop("__pid").filter(col("id") =!= 0L)
    val union = try {
      var frontier = seed(f)
      var all = frontier
      var lvl = 0
      var n = 1L
      while (n > 0 && lvl < maxDepth) {
        frontier = step(children(frontier))
        pinned += frontier.persist()
        n = frontier.count()
        if (n > 0) all = all.unionByName(frontier)
        lvl += 1
      }
      for (op <- refuse if n > 0 && !children(frontier).isEmpty)
        throw new IllegalStateException(
          s"$op exceeded maxDepth with an unfinished frontier - the subtree " +
          "is deeper; raise maxDepth (a truncated result would silently " +
          "orphan the deeper levels)")
      all
    } catch { case e: Throwable => pinned.foreach(graft.core.Caching.free); throw e }
    graft.core.Caching.materializeAndRelease(union, pinned.toSeq)
  }

  // ---- S3: listing (getListing, :701-720) ------------------------------

  def listChildren(file: DataFrame, parentId: Long): DataFrame =
    live(file).filter(col("parentId") === parentId && col("id") =!= 0L)

  // ---- S4: recursive descendants (:722-755) ----------------------------

  /** The live subtrees below `rootIds`, roots excluded, down to the
    * leaves; excludeDir drops directories from the result. Refuses a
    * subtree deeper than maxDepth levels. */
  def descendants(file: DataFrame, rootIds: Seq[Long], excludeDir: Boolean = false,
                  maxDepth: Int = 16): DataFrame = {
    // the walk starts from the roots' children, one level down
    val walk = walkDown(live(file),
      f => f.join(broadcast(f.filter(col("id").isin(rootIds: _*)).select(col("id").as("__rid"))),
          col("parentId") === col("__rid"), "left_semi").filter(col("id") =!= 0L),
      carry = Nil, step = identity, maxDepth - 1, refuse = Some("descendants"))
    if (excludeDir) walk.filter(col("length") =!= -1L) else walk
  }

  // ---- S6: recursive delete (deleteFileByFile, :600-641) ---------------

  /** Post-order recursive delete: returns the subtree rows, roots
    * included, tombstoned (version flipped negative) — the write-set of
    * the delete. */
  def recursiveDelete(file: DataFrame, rootIds: Seq[Long]): DataFrame = {
    val tombstone = (df: DataFrame) => df.withColumn("version", -col("version"))
    walkDown(live(file), f => tombstone(f.filter(col("id").isin(rootIds: _*))),
      carry = Nil, step = tombstone, maxDepth = 16, refuse = Some("recursiveDelete"))
  }

  // ---- S7: file info with derived length (getFileInfo, :103-136) -------

  /** File status; when stored length <= 0 re-derive it as the sum of the
    * file's primary-replica block lengths. */
  def fileInfo(file: DataFrame, block: DataFrame): DataFrame = {
    val files = live(file).filter(col("length") =!= -1L)
    val sums = blockEntries(block)
      .groupBy(col("fileId"))
      .agg(sum(greatest(col("blockLength"), lit(0L))).as("__derivedLen"))
    files.join(sums, files("id") === sums("fileId"), "left")
      .withColumn("effectiveLength",
        when(col("length") > 0, col("length"))
          .otherwise(coalesce(col("__derivedLen"), lit(0L))))
      .drop("fileId", "__derivedLen")
  }

  // ---- S8: block grouping → BlockEntry (A/block/BlockEntry.java:42-65) -

  /** Group replica rows by block id: the primary replica is the argmax by
    * (generationStamp, version) (:49-54); replicas listed in stable order;
    * one row per block. The tiebreak is a true tuple ordering
    * (max_by over a struct key — lexicographic, overflow-free at any
    * genStamp/version magnitude); the DuckDB oracles mirror it with a
    * HUGEINT-widened key, so the two stay ordinally identical. */
  def blockEntries(block: DataFrame): DataFrame = {
    val b = live(block)
    val ord = struct(col("generationStamp"), col("version"))
    b.groupBy(col("id"))
      .agg(
        // max (not first): fileId/fileIndex are functionally dependent on
        // block id in well-formed data, so max == the value — and max stays
        // deterministic against corrupt inputs where first() would not be
        max(col("fileId")).as("fileId"),
        max(col("fileIndex")).as("fileIndex"),
        max(col("generationStamp")).as("maxGenStamp"),
        max_by(col("datanodeId"), ord).as("primaryDatanodeId"),
        max_by(col("length"), ord).as("blockLength"),
        count(lit(1)).as("replicaCount"),
        array_join(transform(array_sort(collect_list(col("datanodeId"))),
          x => x.cast("string")), ",").as("replicas"))
  }

  // ---- S9: last block (top-1 by fileIndex, :232-235) -------------------

  def lastBlockPerFile(block: DataFrame): DataFrame = {
    val entries = blockEntries(block)
    val w = Window.partitionBy(col("fileId")).orderBy(col("fileIndex").desc)
    entries.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ---- S10/S11: file↔block joins (:228-230, :665-669) ------------------

  def blocksOfFiles(file: DataFrame, block: DataFrame): DataFrame = {
    val files = live(file).filter(col("length") =!= -1L)
    files.select(col("id").as("__fid"))
      .join(live(block), col("fileId") === col("__fid")).drop("__fid")
  }

  def fileOfBlock(file: DataFrame, block: DataFrame): DataFrame =
    live(block).select(col("id").as("blockId"), col("fileId"))
      .distinct()
      .join(live(file), col("fileId") === col("id"))

  // ---- S12/S13: datanode maps & cluster statistics (:238-373, 470-541) -

  def liveDatanodes(datanode: DataFrame, nowMs: Long): DataFrame =
    live(datanode).filter(col("lastUpdated") >= nowMs - HeartbeatExpiryMs)

  /** Most live nodes [[liveNodeRacks]] holds on the driver. */
  val LiveNodeCap: Int = 65536

  /** Driver rows as a local relation: projections and filters over it
    * fold in the optimizer, so collecting them starts no Spark job. */
  private[graft] def localRelation(sp: SparkSession, rows: Array[Row],
                                   schema: StructType): DataFrame =
    sp.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Spark's string order (UTF-8 bytes, unsigned), for driver-side sorts
    * that must agree with an `orderBy` on a string column. */
  private[state] val SparkStringOrder: Ordering[String] =
    (a: String, b: String) =>
      UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** The live nodes' rack dimension: `(id, location, rack)` per live node,
    * `rack` the 1-based rank of its location among the distinct non-null
    * live locations in Spark's string order (null for a null location),
    * plus `clusterRacks`, the number of those locations — a null location
    * is no rack, as in `COUNT(DISTINCT location)`, but its node is still
    * live. Topology is namenode-memory-sized (the reference keeps the
    * datanode map in RAM): up to `cap` live nodes are collected once and
    * the dimension returns as a local relation, so the rack ranking and
    * count start no Spark job. Over the cap the ranks come from a pinned
    * window over the distinct locations. */
  def liveNodeRacks(datanode: DataFrame, nowMs: Long,
                    cap: Int = LiveNodeCap): (DataFrame, Long) = {
    val nodes = liveDatanodes(datanode, nowMs).select(col("id"), col("location"))
    val collected = nodes.limit(cap + 1).collect()
    if (collected.length <= cap) {
      val rank = collected.flatMap(r => Option(r.getString(1))).distinct
        .sorted(SparkStringOrder).zipWithIndex.toMap
      val rows = collected.map(r => Row(r.get(0), r.get(1),
        rank.get(r.getString(1)).map(i => Int.box(i + 1)).orNull))
      val schema = nodes.schema.add("rack", IntegerType, nullable = true)
      (localRelation(nodes.sparkSession, rows, schema), rank.size.toLong)
    } else {
      val racks = nodes.select(col("location")).filter(col("location").isNotNull)
        .distinct()
        .withColumn("rack", row_number().over(Window.orderBy(col("location"))))
        .localCheckpoint() // rack-count-sized; counted and joined below
      (nodes.join(broadcast(racks), Seq("location"), "left")
        .select(col("id"), col("location"), col("rack")), racks.count())
    }
  }

  /** Cluster-wide sums over live nodes + live/dead counts — one wide agg. */
  def clusterStats(datanode: DataFrame, nowMs: Long): DataFrame = {
    val alive = col("lastUpdated") >= nowMs - HeartbeatExpiryMs
    live(datanode).agg(
      sum(when(alive, col("capacity")).otherwise(0L)).as("capacity"),
      sum(when(alive, col("dfsUsed")).otherwise(0L)).as("dfsUsed"),
      sum(when(alive, col("remaining")).otherwise(0L)).as("remaining"),
      sum(when(alive, col("xceiverCount")).otherwise(0L)).as("totalLoad"),
      count(when(alive, 1)).as("liveNodes"),
      count(when(!alive, 1)).as("deadNodes"))
  }

  // ---- S14/S15: lease scans (:643-645, 865-914) ------------------------

  /** Lease-expiry scan: holders unrenewed past soft/hard limits
    * (FSConstants 60 s / 3600 s). */
  def expiredLeases(lease: DataFrame, nowMs: Long,
                    softMs: Long = graft.model.LeaseLimits.SoftMs,
                    hardMs: Long = graft.model.LeaseLimits.HardMs): DataFrame =
    live(lease)
      .withColumn("softExpired", col("leaseTime") < nowMs - softMs)
      .withColumn("hardExpired", col("leaseTime") < nowMs - hardMs)
      .filter(col("softExpired"))

  /** S15 LeaseMonitor batch step: hard-expired leases joined to their
    * under-construction files (LEASE_HOLDER index join). */
  def leaseRecoveryCandidates(lease: DataFrame, file: DataFrame, nowMs: Long): DataFrame =
    expiredLeases(lease, nowMs).filter(col("hardExpired"))
      .select(col("holder"), col("leaseTime"))
      .join(live(file), col("leaseHolder") === col("holder"))
}
