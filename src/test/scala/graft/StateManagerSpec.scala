package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.state.StateManager

/** Fixture per FIXTURES.md §1: 4-level tree with an empty dir, a file
  * under construction and a tombstoned row; blocks with divergent
  * genstamps, a NULL_DATANODE row and an orphan block. */
class StateManagerSpec extends SparkSpec {
  import spark.implicits._

  // (id, parentId, name, length, blockSize, replication, atime, mtime,
  //  owner, leaseHolder, leaseRecoveryTime, version)
  private lazy val file: DataFrame = Seq(
    (0L, -1L, "", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 1L),
    (1L, 0L, "a", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 2L),
    (2L, 1L, "b", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 3L),
    (3L, 2L, "f1", 100L, 64L, 2L, 0L, 0L, 0L, None: Option[String], 0L, 4L),
    (4L, 2L, "f2", 0L, 64L, 2L, 0L, 0L, 0L, None: Option[String], 0L, 5L),
    (5L, 1L, "empty", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 6L),
    (6L, 2L, "uc", 0L, 64L, 3L, 0L, 0L, 0L, Some("writer1"), 0L, 7L),
    (7L, 2L, "dead", 10L, 64L, 1L, 0L, 0L, 0L, None: Option[String], 0L, -8L),
  ).toDF("id", "parentId", "name", "length", "blockSize", "replication",
    "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")

  // (id, datanodeId, length, generationStamp, fileId, fileIndex, version)
  private lazy val block: DataFrame = Seq(
    (101L, 11L, 40L, 5L, 4L, 1L, 10L),   // replica, stale genstamp
    (101L, 12L, 50L, 6L, 4L, 1L, 11L),   // primary (max genstamp)
    (102L, 11L, 30L, 6L, 4L, 2L, 12L),
    (103L, 0L, -1L, 6L, 6L, 1L, 13L),    // NULL_DATANODE, under construction
    (109L, 13L, 99L, 6L, 999L, 1L, 14L), // orphan (no such file)
  ).toDF("id", "datanodeId", "length", "generationStamp", "fileId", "fileIndex", "version")

  test("S1: resolvePaths walks (parentId,name) per level") {
    val paths = Seq("/a/b/f1", "/a/b/dead", "/a/empty", "/nope").toDF("path")
    val out = rows(StateManager.resolvePaths(file, paths).select(col("path"), col("id")))
      .map(r => r.head -> r.last).toMap
    assert(out == Map("/a/b/f1" -> 3L, "/a/empty" -> 5L)) // tombstone + miss drop
  }

  test("S2: materializePaths builds every live path") {
    val out = rows(StateManager.materializePaths(file).select(col("id"), col("path")))
      .map(r => r.head -> r.last).toMap
    assert(out(3L) == "/a/b/f1" && out(0L) == "" && out(5L) == "/a/empty")
    assert(!out.contains(7L))
  }

  test("dir-map fast paths match the iterative fallback exactly") {
    // dirBroadcastLimit = 0 forces the iterative route on the same input
    val paths = Seq("/a/b/f1", "/a/b/dead", "/a/empty", "/a/b", "/nope", "relative")
      .toDF("path")
    def canon(df: DataFrame) =
      rows(df.select(col("path"), col("id"))).map(r => (r.head, r.last)).sortBy(_.toString)
    assert(canon(StateManager.resolvePaths(file, paths)) ==
      canon(StateManager.resolvePaths(file, paths, dirBroadcastLimit = 0L)))
    def canonP(df: DataFrame) =
      rows(df.select(col("id"), col("path"))).map(r => (r.head, r.last)).sortBy(_.toString)
    assert(canonP(StateManager.materializePaths(file)) ==
      canonP(StateManager.materializePaths(file, dirBroadcastLimit = 0L)))
    import graft.analytics.Dataflows
    def canonC(df: DataFrame) = rows(df.orderBy(col("rootId")))
    // duplicate root + a tombstoned root (7) exercise the seed rules
    val roots = Seq(1L, 1L, 2L, 7L)
    assert(canonC(Dataflows.contentSummary(file, roots)) ==
      canonC(Dataflows.contentSummary(file, roots, dirBroadcastLimit = 0L)))
  }

  test("S3/S4: listing and descendants") {
    assert(rows(StateManager.listChildren(file, 2L)).map(_.head).toSet == Set(3L, 4L, 6L))
    val desc = StateManager.descendants(file, Seq(1L))
    assert(rows(desc).map(_.head).toSet == Set(2L, 5L, 3L, 4L, 6L))
    val files = StateManager.descendants(file, Seq(1L), excludeDir = true)
    assert(rows(files).map(_.head).toSet == Set(3L, 4L, 6L))
  }

  test("S4: descendants refuses a maxDepth cut instead of truncating") {
    // depth-2 subtree under /a: a cut at depth 1 would silently orphan
    // /a/b's children if recursiveDelete tombstoned the partial result
    val e = intercept[IllegalStateException] {
      StateManager.descendants(file, Seq(1L), maxDepth = 1).collect()
    }
    assert(e.getMessage.contains("maxDepth"))
    // a subtree whose deepest level sits EXACTLY at maxDepth is complete:
    // the depth-2 frontier {3,4,6} has no children, so no refusal
    assert(rows(StateManager.descendants(file, Seq(1L), maxDepth = 2))
      .map(_.head).toSet == Set(2L, 5L, 3L, 4L, 6L))
  }

  test("S6: recursive delete tombstones the live subtree") {
    val out = rows(StateManager.recursiveDelete(file, Seq(2L)).select(col("id"), col("version")))
    assert(out.map(_.head).toSet == Set(2L, 3L, 4L, 6L))
    assert(out.forall(_.last.asInstanceOf[Long] < 0))
  }

  test("S7: fileInfo derives length from primary-replica block sums") {
    val out = rows(StateManager.fileInfo(file, block)
      .select(col("id"), col("effectiveLength"))).map(r => r.head -> r.last).toMap
    assert(out(3L) == 100L)      // stored length wins
    assert(out(4L) == 50L + 30L) // derived: primary of 101 (len 50) + 102 (30)
    assert(out(6L) == 0L)        // single UC block clamps to 0
  }

  test("S8: blockEntries picks argmax(genstamp,version) primary") {
    val e = rows(StateManager.blockEntries(block)
      .select(col("id"), col("primaryDatanodeId"), col("blockLength"), col("replicaCount"), col("replicas")))
      .map(r => r.head -> r.tail).toMap
    assert(e(101L) == Seq(12L, 50L, 2L, "11,12"))
    assert(e(103L) == Seq(0L, -1L, 1L, "0"))
  }

  test("S9: last block per file by fileIndex") {
    val out = rows(StateManager.lastBlockPerFile(block).select(col("fileId"), col("id")))
      .map(r => r.head -> r.last).toMap
    assert(out(4L) == 102L)
  }

  test("glob translation: wildcard, class, braces, escapes, anchoring") {
    assert(StateManager.globToRegex("f*") == "^f[^/]*$")
    assert(StateManager.globToRegex("f?x") == "^f[^/]x$")
    assert(StateManager.globToRegex("f[a-z0]") == "^f[a-z0]$")
    assert(StateManager.globToRegex("f[^ab]") == "^f[^ab]$")
    assert(StateManager.globToRegex("{f1,f2}") == "^(f1|f2)$")
    assert(StateManager.globToRegex("a.b") == "^a\\.b$")
    assert(StateManager.globToRegex("a\\*b") == "^a\\Q*\\Eb$")
    // a bracket keeps regex specials literal inside it
    assert(StateManager.globToRegex("x[*?]") == "^x[*?]$")
  }

  test("glob resolution: matches per pattern, files don't recurse, tombstones excluded") {
    val out = rows(StateManager.resolveGlobs(file,
        Seq("/a/*", "/a/b/f?", "/a/{b,empty}", "/a/b/f1/*", "/a/b/[du]*"))
      .select(col("pattern"), col("path"), col("id"))
      .orderBy(col("pattern"), col("path")))
    assert(out == Seq(
      Seq("/a/*", "/a/b", 2L),
      Seq("/a/*", "/a/empty", 5L),
      // [du]* takes live "uc" but NOT the tombstoned "dead"
      Seq("/a/b/[du]*", "/a/b/uc", 6L),
      Seq("/a/b/f?", "/a/b/f1", 3L),
      Seq("/a/b/f?", "/a/b/f2", 4L),
      Seq("/a/{b,empty}", "/a/b", 2L),
      Seq("/a/{b,empty}", "/a/empty", 5L)))
    // "/a/b/f1/*" matches nothing: f1 is a file, the walk stops there
  }

  test("S13/S14: cluster stats and lease expiry") {
    val now = 1000000L
    val dn = Seq(
      (11L, "dn11", "DS-11", 0L, 0L, 1000L, 100L, 900L, now - 1000L, 3L, "/r1", "NORMAL", 1L),
      (12L, "dn12", "DS-12", 0L, 0L, 2000L, 200L, 1800L, now - 700000L, 5L, "/r2", "NORMAL", 2L),
    ).toDF("id", "name", "storageId", "ipcPort", "infoPort", "capacity", "dfsUsed",
      "remaining", "lastUpdated", "xceiverCount", "location", "adminState", "version")
    val stats = rows(StateManager.clusterStats(dn, now)).head
    assert(stats == Seq(1000L, 100L, 900L, 3L, 1L, 1L))

    val lease = Seq(("fresh", now - 1000L, 1L), ("soft", now - 100000L, 2L),
      ("hard", now - 4000000L, 3L)).toDF("holder", "leaseTime", "version")
    val exp = rows(StateManager.expiredLeases(lease, now)
      .select(col("holder"), col("hardExpired"))).map(r => r.head -> r.last).toMap
    assert(exp == Map("soft" -> false, "hard" -> true))
    // S15: only the hard-expired holder's files are recovery candidates
    val held = Seq((100L, Some("hard"), 10L), (101L, Some("soft"), 11L),
      (102L, Some("fresh"), 12L)).toDF("id", "leaseHolder", "version")
    assert(rows(StateManager.leaseRecoveryCandidates(lease, held, now)
      .select(col("holder"), col("id"))) == Seq(Seq("hard", 100L)))
  }
}
