package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.Placement
import graft.state.{Mutations, StateManager}
import graft.store.StateStore

/** Write-path semantics: R11-R13 guards, S5 batch mkdirs, S17 upsert,
  * and the N2 (startFile) / N3 (getAdditionalBlock) compositions. */
class MutationsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val file: DataFrame = Seq(
    (0L, -1L, "", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 1L),
    (1L, 0L, "a", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 2L),
    (2L, 1L, "b", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 3L),
    (3L, 2L, "f1", 100L, 64L, 2L, 0L, 0L, 0L, None: Option[String], 0L, 4L),
    (5L, 1L, "empty", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 6L),
  ).toDF("id", "parentId", "name", "length", "blockSize", "replication",
    "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")

  test("R11 guards: collision, missing parent, parent-not-dir") {
    val cand = Seq((1L, "b"), (1L, "c"), (42L, "x"), (3L, "y"), (1L, ""))
      .toDF("parentId", "name")
    val out = rows(Mutations.validateInserts(file, cand)
      .select(col("parentId"), col("name"), col("reject")))
      .map(r => (r.head, r(1)) -> r(2)).toMap
    assert(out((1L, "b")) == "name exists")
    assert(out((1L, "c")) == null)
    assert(out((42L, "x")) == "parent not found")
    assert(out((3L, "y")) == "parent not a directory")
    assert(out((1L, "")) == "empty name")
  }

  test("S5 mkdirs: deterministic ids + parent touch") {
    val reqs = Seq((1L, "z1"), (2L, "z2")).toDF("parentId", "name")
    val out = Mutations.mkdirs(file, reqs, idBase = 100L, nowMs = 777L)
    val inserts = rows(out.filter(col("writeOp") === "insert")
      .select(col("id"), col("parentId"), col("name")))
    assert(inserts.toSet == Set(Seq(101L, 1L, "z1"), Seq(102L, 2L, "z2")))
    val touched = rows(out.filter(col("writeOp") === "touch")
      .select(col("id"), col("mtime"))).map(r => r.head -> r.last).toMap
    assert(touched == Map(1L -> 777L, 2L -> 777L))
  }

  test("R12 rename: move with both-parent touch; root refused") {
    val renames = Seq((2L, 5L, "b2"), (0L, 1L, "rootx")).toDF("id", "newParentId", "newName")
    val out = Mutations.rename(file, renames, nowMs = 888L)
    val moved = rows(out.filter(col("writeOp") === "move")
      .select(col("id"), col("parentId"), col("name")))
    assert(moved == Seq(Seq(2L, 5L, "b2"))) // root rename rejected
    val touched = rows(out.filter(col("writeOp") === "touch").select(col("id")))
      .map(_.head).toSet
    assert(touched == Set(1L, 5L)) // old parent + new parent
  }

  test("R12 rename: moving a dir under its own subtree is refused") {
    // /a under /a/b would orphan the whole subtree behind a parent cycle;
    // a legal sibling move in the same batch must still go through (the
    // cycle row fails BASE validation, so it does not entangle the other)
    val renames = Seq((1L, 2L, "a2"), (3L, 1L, "f1up"))
      .toDF("id", "newParentId", "newName")
    val out = Mutations.rename(file, renames, nowMs = 888L)
    val moved = rows(out.filter(col("writeOp") === "move")
      .select(col("id"), col("parentId"), col("name")))
    assert(moved == Seq(Seq(3L, 1L, "f1up"))) // cycle move rejected, legal one kept
  }

  test("R12 rename: a batch-entangled swap is refused whole") {
    // /a/b -> under /a/empty while /a/empty -> under /a/b: each row is
    // valid against PRE-rename paths, but applying both composes a
    // parent 2-cycle detached from /a — both must be refused
    val renames = Seq((2L, 5L, "b2"), (5L, 2L, "e2"))
      .toDF("id", "newParentId", "newName")
    val out = Mutations.rename(file, renames, nowMs = 888L)
    assert(rows(out.filter(col("writeOp") === "move")).isEmpty)
    // and independently-targeted rows in the same batch still move
    val mixed = Seq((2L, 5L, "b2"), (5L, 2L, "e2"), (3L, 1L, "f1up"))
      .toDF("id", "newParentId", "newName")
    val kept = rows(Mutations.rename(file, mixed, nowMs = 888L)
      .filter(col("writeOp") === "move").select(col("id")))
    assert(kept == Seq(Seq(3L)))
  }

  test("R12 rename: a moved dir that is also a touched parent emits ONE row") {
    // dir 2 moves while file 3 moves OUT of dir 2: the old-parent touch
    // of 3 lands on 2, which already has a move row — a stale touch
    // (old parentId/name, unbumped version) would leave two rows per key
    val renames = Seq((2L, 5L, "b2"), (3L, 1L, "f1up"))
      .toDF("id", "newParentId", "newName")
    val out = rows(Mutations.rename(file, renames, nowMs = 9L)
      .select(col("writeOp"), col("id"), col("parentId"), col("name")))
    val rowsFor2 = out.filter(_(1) == 2L)
    assert(rowsFor2 == Seq(Seq("move", 2L, 5L, "b2")))
    // parents with no move row still get their touches: 1 (old parent of
    // both) and 5 (new parent of 2)
    assert(out.filter(_.head == "touch").map(_(1)).toSet == Set(1L, 5L))
  }

  test("R12 rename: intra-batch duplicate targets and ids are refused") {
    // two rows claiming the same (parent, name) would break the unique
    // key after apply; two renames of one id would emit conflicting moves
    val renames = Seq((2L, 1L, "x"), (3L, 1L, "x"), (3L, 5L, "z"))
      .toDF("id", "newParentId", "newName")
    val moved = rows(Mutations.rename(file, renames, nowMs = 9L)
      .filter(col("writeOp") === "move")
      .select(col("id"), col("parentId"), col("name")))
    // id 2 wins the (1, "x") target (lowest id); id 3 is refused twice
    // over — duplicate id in batch AND second claim on (1, "x")
    assert(moved == Seq(Seq(2L, 1L, "x")))
  }

  test("R12 rename: guard fast path matches the iterative fallback") {
    // every guard case at once: cycle, entangled swap, legal file move;
    // dirBroadcastLimit = 0 forces the per-level walk on the same input
    val mixed = Seq((1L, 2L, "a2"), (2L, 5L, "b2"), (5L, 2L, "e2"), (3L, 1L, "f1up"))
      .toDF("id", "newParentId", "newName")
    def canon(df: org.apache.spark.sql.DataFrame) =
      rows(df.select(col("writeOp"), col("id"), col("parentId"), col("name")))
        .sortBy(_.toString)
    assert(canon(Mutations.rename(file, mixed, nowMs = 9L)) ==
      canon(Mutations.rename(file, mixed, nowMs = 9L, dirBroadcastLimit = 0L)))
  }

  test("R12 rename: corrupt ancestry refuses a dir move on both guard routes") {
    // dir 11 sits under dir 10 whose parent pointer is negative (corrupt:
    // only root carries -1) — a dir move INTO 11 has unverifiable
    // ancestry and must refuse; a file move into 11 is still fine (files
    // cannot cycle)
    val f = file.unionByName(Seq(
      (10L, -5L, "corrupt", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 11L),
      (11L, 10L, "sub", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 12L),
    ).toDF("id", "parentId", "name", "length", "blockSize", "replication",
      "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version"))
    val renames = Seq((5L, 11L, "moved_dir"), (3L, 11L, "moved_file"))
      .toDF("id", "newParentId", "newName")
    def movedIds(limit: Long) =
      rows(Mutations.rename(f, renames, nowMs = 9L, dirBroadcastLimit = limit)
        .filter(col("writeOp") === "move").select(col("id"))).map(_.head).toSet
    assert(movedIds(2000000L) == Set(3L), "fast path: dir refused, file moves")
    assert(movedIds(0L) == Set(3L), "fallback: dir refused, file moves")
  }

  test("R13 delete: refuses root and non-empty dir, tombstones the rest") {
    val out = rows(Mutations.guardedDelete(file, Seq(0L, 1L, 5L, 3L).toDF("id"))
      .select(col("id"), col("version"), col("reject")))
      .map(r => r.head -> (r(1), r(2))).toMap
    assert(out(0L)._2 == "cannot delete root")
    assert(out(1L)._2 == "directory not empty")
    assert(out(5L) == (-6L, null)) // empty dir tombstoned
    assert(out(3L) == (-4L, null)) // file tombstoned
  }

  test("N2 startFile composition: mkdirs + lease insert write-sets") {
    // create /a/b/newfile under lease: file insert + lease upsert
    val reqs = Seq((2L, "newfile")).toDF("parentId", "name")
    val fileWs = Mutations.mkdirs(file, reqs, idBase = 200L, nowMs = 1L, leafLength = 0L)
    val inserted = rows(fileWs.filter(col("writeOp") === "insert").select(col("id"))).map(_.head)
    assert(inserted == Seq(201L))
    val lease = Seq(("writerA", 0L, 1L)).toDF("holder", "leaseTime", "version")
    val renewed = StateStore.update(lease, col("holder") === "writerA",
      Map("leaseTime" -> StateStore.SetNow), nowMs = 999L)
    assert(rows(renewed).head(1) == 999L)
  }

  test("N3 getAdditionalBlock composition: placement over live topology") {
    val nodes = (1 to 6).map(i => Placement.Node(i.toLong, s"/r${i % 3}", 1L << 30, 1, "NORMAL"))
    val targets = Placement.chooseTargets(nodes, 3, Some("/r1"), blockSize = 1024, seed = 42L)
    assert(targets.size == 3)
    // new block rows: one per target + the NULL_DATANODE row, next fileIndex
    val newBlockId = 301L
    val rowsOut = targets.map(t => (newBlockId, t.id, -1L, 7L, 3L, 2L)) :+
      ((newBlockId, 0L, -1L, 7L, 3L, 2L))
    assert(rowsOut.size == 4 && rowsOut.map(_._2).distinct.size == 4)
  }

  test("N2 startFile: full case ladder — insert/tombstone/lease/rejects") {
    val f = file.unionByName(Seq(
      (7L, 2L, "uc1", 0L, 64L, 1L, 0L, 0L, 0L, Some("w1"), 0L, 8L),
    ).toDF("id", "parentId", "name", "length", "blockSize", "replication",
      "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version"))
    val reqs = Seq(
      (2L, "newA", "h1", false), // fresh → insert
      (2L, "f1", "h2", true),    // existing file + overwrite → tombstone+insert
      (2L, "f1", "h3", false),   // existing file, no overwrite → reject
      (1L, "b", "h4", false),    // existing dir → reject
      (2L, "uc1", "h5", true),   // under construction → reject even w/ overwrite
      (42L, "x", "h6", false),   // → parent not found
    ).toDF("parentId", "name", "holder", "overwrite")
    val out = Mutations.startFile(f, reqs, idBase = 500L, nowMs = 999L)
    val byOp = rows(out.select(col("writeOp"), col("name"), col("leaseHolder"),
        col("version"), col("reject")))
      .groupBy(_.head).view.mapValues(_.map(_.tail)).toMap
    assert(byOp("insert").map(_.head).toSet == Set("newA", "f1"))
    assert(byOp("tombstone") == Seq(Seq("f1", null, -4L, null))) // old f1 v=4
    assert(byOp("lease").map(_(1)).toSet == Set("h1", "h2"))
    val rejects = byOp("reject").map(r => (r.head, r(1)) -> r(3)).toMap
    assert(rejects(("f1", "h3")) == "file exists")
    assert(rejects(("b", "h4")) == "already exists as directory")
    assert(rejects(("uc1", "h5")) == "file under construction")
    assert(rejects(("x", "h6")) == "parent not found")
    // accepted creates get deterministic ids ranked by (parentId,name,holder)
    val ids = rows(out.filter(col("writeOp") === "insert")
      .select(col("name"), col("id"))).map(r => r.head -> r.last).toMap
    assert(ids == Map("f1" -> 501L, "newA" -> 502L))
  }

  test("N2 appendFile: attach/lease/reopen + full reject ladder") {
    val f = file.unionByName(Seq(
      (7L, 2L, "uc1", 0L, 64L, 1L, 0L, 0L, 0L, Some("w1"), 0L, 8L),
    ).toDF("id", "parentId", "name", "length", "blockSize", "replication",
      "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version"))
    val b = Seq(
      // file 3: idx1 finished ×2; idx2 (LAST) one finished + one UC replica
      (31L, 1L, 100L, 7L, 3L, 1L, 10L),
      (31L, 2L, 100L, 7L, 3L, 1L, 11L),
      (32L, 1L, 80L, 7L, 3L, 2L, 12L),
      (32L, 2L, -1L, 7L, 3L, 2L, 13L),
    ).toDF("id", "datanodeId", "length", "generationStamp", "fileId", "fileIndex", "version")
    val reqs = Seq(
      (2L, "f1", "hA"),   // exists, closed → attach + reopen last block
      (2L, "f1", "hB"),   // duplicate in batch → loses to hA (holder order)
      (1L, "b", "hC"),    // directory → reject
      (2L, "uc1", "hD"),  // under construction → reject
      (2L, "nope", "hE"), // missing → reject
    ).toDF("parentId", "name", "holder")
    val out = Mutations.appendFile(f, b, reqs, nowMs = 555L)
    val byOp = rows(out.select(col("writeOp"), col("tbl"), col("id"),
        col("name"), col("leaseHolder"), col("version"), col("reject")))
      .groupBy(_.head).view.mapValues(_.map(_.tail)).toMap
    // attach: file 3 re-leased to hA with a version bump
    assert(byOp("attach") == Seq(Seq("file", 3L, "f1", "hA", 1000000004L, null)))
    assert(byOp("lease").map(_(3)) == Seq("hA"))
    // reopen: ONLY the finished replica of the LAST block (32@dn1);
    // 32@dn2 is already UC, idx-1 replicas are untouched
    assert(byOp("reopen").map(r => (r(1), r(4))) == Seq((32L, 1000000012L)))
    val rejects = byOp("reject").map(r => (r(2), r(3)) -> r(5)).toMap
    assert(rejects(("f1", "hB")) == "file under construction")
    assert(rejects(("b", "hC")) == "already exists as a directory")
    assert(rejects(("uc1", "hD")) == "file under construction")
    assert(rejects(("nope", "hE")) == "file not found")
  }

  test("N3 addBlock: last-block replication gates allocation") {
    val f = Seq(
      (0L, -1L, "", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 1L),
      (3L, 0L, "ucA", 0L, 64L, 2L, 0L, 0L, 0L, Some("wA"), 0L, 4L),
      (4L, 0L, "ucB", 0L, 64L, 2L, 0L, 0L, 0L, Some("wB"), 0L, 5L),
      (6L, 0L, "ucC", 0L, 64L, 2L, 0L, 0L, 0L, Some("wC"), 0L, 7L),
      (9L, 0L, "done", 9L, 64L, 2L, 0L, 0L, 0L, None: Option[String], 0L, 9L),
    ).toDF("id", "parentId", "name", "length", "blockSize", "replication",
      "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")
    val b = Seq(
      // ucA: last block (idx 2) has a finished replica → can allocate idx 3
      (31L, 1L, 100L, 7L, 3L, 1L, 10L),
      (32L, 1L, 100L, 7L, 3L, 2L, 11L),
      (32L, 2L, -1L, 7L, 3L, 2L, 12L),
      // ucB: last block (idx 1) only has under-construction replicas
      (41L, 1L, -1L, 7L, 4L, 1L, 13L),
      (41L, 2L, -1L, 7L, 4L, 1L, 14L),
    ).toDF("id", "datanodeId", "length", "generationStamp", "fileId", "fileIndex", "version")
    val out = rows(Mutations.addBlock(f, b, idBase = 1000L)
      .select(col("fileId"), col("newBlockId"), col("newFileIndex"), col("canAllocate")))
      .map(r => r.head -> r.tail).toMap
    assert(out(3L) == Seq(1003L, 3L, true))
    assert(out(4L) == Seq(1004L, 2L, false))
    assert(out(6L) == Seq(1006L, 1L, true)) // no blocks yet → first block ok
    assert(!out.contains(9L)) // not under construction
  }

  // /a holds f1 and sub, and sub holds f2: f2 sits two levels below /a
  private lazy val cpFile = Seq(
    (0L, -1L, "", -1L, 1L), (1L, 0L, "a", -1L, 2L), (2L, 1L, "f1", 10L, 3L),
    (3L, 1L, "sub", -1L, 4L), (4L, 3L, "f2", 20L, 5L), (5L, 0L, "dst", -1L, 6L),
  ).toDF("id", "parentId", "name", "length", "version")
  private lazy val cpBlock = Seq(
    (70L, 1L, 10L, 9L, 2L, 1L, 1L), (70L, 2L, 10L, 9L, 2L, 1L, 2L),
    (71L, 1L, 20L, 9L, 4L, 1L, 3L),
  ).toDF("id", "datanodeId", "length", "generationStamp", "fileId",
    "fileIndex", "version")

  test("cp: recursive metadata copy, block duplication, dup/cycle rejects") {
    val (f, b) = (cpFile, cpBlock)
    val reqs = Seq(
      (1L, 5L, "acopy"),    // recursive dir copy
      (2L, 5L, "dupname"), (4L, 5L, "dupname"), // second loses (srcId order)
      (1L, 3L, "loop"),     // dst parent inside the source subtree
    ).toDF("srcId", "dstParentId", "newName")
    val out = rows(Mutations.copy(f, b, reqs, idBase = 100L, blockIdBase = 200L)
      .select(col("writeOp"), col("tbl"), col("id"), col("parentId"),
        col("name"), col("srcId"), col("datanodeId"), col("reject")))
    val files = out.filter(r => r.head == "copy" && r(1) == "file")
      .map(r => r(2) -> (r(3), r(4), r(5))).toMap
    // subtree ids are the dense (request, oldId) rank; parents remapped
    assert(files == Map(
      101L -> ((5L, "acopy", 1L)), 102L -> ((101L, "f1", 2L)),
      103L -> ((101L, "sub", 3L)), 104L -> ((103L, "f2", 4L)),
      105L -> ((5L, "dupname", 2L))))
    // block 70 duplicated once per copied owner, replicas intact
    val blocks = out.filter(r => r.head == "copy" && r(1) == "block")
      .map(r => (r(2), r(3), r(5), r(6)))
    assert(blocks.toSet == Set(
      (201L, 102L, 70L, 1L), (201L, 102L, 70L, 2L), (202L, 104L, 71L, 1L),
      (203L, 105L, 70L, 1L), (203L, 105L, 70L, 2L)))
    val rejects = out.filter(_.head == "reject").map(r => r(5) -> r.last).toMap
    assert(rejects == Map(4L -> "duplicate in batch",
      1L -> "cannot copy a directory into its own subtree"))
  }

  test("cp: a subtree whose deepest level sits at maxDepth copies; one deeper refuses") {
    val req = Seq((1L, 5L, "acopy")).toDF("srcId", "dstParentId", "newName")
    def copied(maxDepth: Int) = rows(Mutations.copy(cpFile, cpBlock, req,
        idBase = 100L, blockIdBase = 200L, maxDepth = maxDepth)
      .filter(col("writeOp") === "copy" && col("tbl") === "file")
      .select(col("srcId"))).map(_.head).toSet
    assert(copied(2) == Set(1L, 2L, 3L, 4L))
    val e = intercept[IllegalStateException](copied(1))
    assert(e.getMessage.contains("maxDepth"))
  }

  test("expunge: aged checkpoints tombstoned, Current re-checkpointed") {
    val f = Seq(
      (0L, -1L, "", -1L, 1L), (10L, 0L, "user", -1L, 2L),
      (11L, 10L, ".Trash", -1L, 3L), (12L, 11L, "ckpt1", -1L, 4L),
      (13L, 12L, "old", 5L, 5L), (14L, 11L, "Current", -1L, 6L),
      (15L, 14L, "fresh", 7L, 7L),
    ).toDF("id", "parentId", "name", "length", "version")
    val out = rows(Mutations.expunge(f, nowMs = 777L)
      .select(col("writeOp"), col("id"), col("name"), col("version")))
      .map(r => r(1) -> (r.head, r(2), r(3))).toMap
    assert(out(12L) == (("tombstone", "ckpt1", -4L)))
    assert(out(13L) == (("tombstone", "old", -5L)))
    assert(out(14L) == (("move", "777", 7L)))
    assert(!out.contains(15L)) // Current's content survives the rename
  }

  test("checkFsObjectLimit: refuses at the cap, free when disabled") {
    val b = Seq((500L, 1L, 10L, 7L, 3L, 1L, 5L))
      .toDF("id", "datanodeId", "length", "generationStamp", "fileId",
        "fileIndex", "version")
    // fixture: 5 live file rows + 1 live block row = 6 objects
    Mutations.checkFsObjectLimit(file, b, maxFsObjects = 0L)  // disabled
    Mutations.checkFsObjectLimit(file, b, maxFsObjects = 7L)  // below cap
    assertThrows[IllegalStateException](
      Mutations.checkFsObjectLimit(file, b, maxFsObjects = 6L))
  }

  test("abandonBlock: checkLease ladder gates the replica tombstones") {
    val f = Seq(
      (0L, -1L, "", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 1L),
      (1L, 0L, "d", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 2L),
      (10L, 1L, "uc", 0L, 64L, 2L, 0L, 0L, 0L, Some("h1"), 0L, 3L),
      (11L, 1L, "done", 100L, 64L, 2L, 0L, 0L, 0L, None: Option[String], 0L, 4L),
    ).toDF("id", "parentId", "name", "length", "blockSize", "replication",
      "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")
    val b = Seq(
      (500L, 1L, -1L, 7L, 10L, 1L, 5L), (500L, 2L, -1L, 7L, 10L, 1L, 6L),
      (501L, 1L, 50L, 7L, 11L, 1L, 7L),
    ).toDF("id", "datanodeId", "length", "generationStamp", "fileId",
      "fileIndex", "version")
    val reqs = Seq(
      (10L, 500L, Some("h1")),              // valid → both replicas tombstone
      (10L, 502L, Some("h1")),              // valid, no live rows → no-op
      (11L, 501L, Some("h1")),              // completed file
      (1L, 500L, Some("h1")),               // directory
      (99L, 500L, Some("h1")),              // missing file
      (10L, 500L, None: Option[String]),    // null holder
      (10L, 500L, Some("h2")),              // wrong holder
    ).toDF("fileId", "blockId", "holder")
    val out = rows(Mutations.abandonBlock(f, b, reqs)
      .select(col("writeOp"), col("fileId"), col("blockId"),
        col("datanodeId"), col("version"), col("reject"))
      .orderBy(col("writeOp"), col("fileId"), col("blockId"),
        col("datanodeId"), col("reject")))
    assert(out.filter(_.head == "tombstone") == Seq(
      Seq("tombstone", 10L, 500L, 1L, -5L, null),
      Seq("tombstone", 10L, 500L, 2L, -6L, null)))
    assert(out.filter(_.head == "reject").map(r => (r(1), r(5))).toSet == Set(
      (11L, "file not under construction"),
      (1L, "file is a directory"),
      (99L, "file not found"),
      (10L, "null holder"),
      (10L, "wrong holder")))
  }

  test("moveToTrash: mirror-dir chain, move, touches, rejects") {
    // namespace: /a/b/f1 (file), /a/empty (dir); no trash yet
    val out = rows(Mutations.moveToTrash(file,
        Seq(3L, 0L, 42L).toDF("id"), idBase = 200L, nowMs = 777L)
      .select(col("writeOp"), col("id"), col("parentId"), col("name"),
        col("version"), col("reject"))
      .orderBy(col("writeOp"), col("id")))
    // inserts: the whole mirror chain in lexicographic path order
    assert(out.filter(_.head == "insert") == Seq(
      Seq("insert", 201L, 0L, ".Trash", 201L, null),
      Seq("insert", 202L, 201L, "Current", 202L, null),
      Seq("insert", 203L, 202L, "a", 203L, null),
      Seq("insert", 204L, 203L, "b", 204L, null)))
    // the move lands at the mirror of the ORIGINAL path
    assert(out.filter(_.head == "move") ==
      Seq(Seq("move", 3L, 204L, "f1", 1000000004L, null)))
    // touches: the old parent and the live parent (root) of the chain
    assert(out.filter(_.head == "touch").map(_(1)).toSet == Set(0L, 2L))
    // rejects: the root guard and a phantom id
    assert(out.filter(_.head == "reject").map(r => r(1) -> r(5)).toMap ==
      Map(0L -> "cannot move root to trash", 42L -> "no such file"))
  }

  test("moveToTrash: the dir-map fast path and the whole-namespace fallback agree") {
    // dirBroadcastLimit = 0 forces the materializePaths route; the two
    // strategies must produce the identical write-set for the identical
    // request — the review-fixed divergences (depth bound, dead root,
    // null names) were all route-parity breaks of exactly this law
    def ws(limit: Long) = rows(Mutations.moveToTrash(file,
        Seq(3L, 0L, 42L).toDF("id"), idBase = 200L, nowMs = 777L,
        dirBroadcastLimit = limit)
      .select(col("writeOp"), col("id"), col("parentId"), col("name"),
        col("length"), col("version"), col("reject"))
      .orderBy(col("writeOp"), col("id")))
    assert(ws(2000000L) == ws(0L))
  }

  test("moveToTrash write-set plan carries no namespace scan (driver dir-map route)") {
    // all namespace probes happen eagerly through batch-bounded driver
    // lookups; the RETURNED plan must read only the checkpointed probe
    // result and the local insert/reject rows — a LogicalRDD/scan of the
    // file input in the plan would mean the trash path re-scans the
    // namespace per downstream action
    val ws = Mutations.moveToTrash(file, Seq(3L).toDF("id"),
      idBase = 200L, nowMs = 777L)
    val plan = ws.queryExecution.optimizedPlan.toString
    // the concrete pin: no join remains in the returned plan — moves and
    // touches were resolved through ONE materialized probe
    assert(!plan.toLowerCase.contains("join"),
      s"trash write-set plan still joins the namespace:\n$plan")
  }

  test("moveToTrash: pre-existing trash, collision suffix, in-trash reject") {
    val f = Seq(
      (0L, -1L, "", -1L, 1L),
      (1L, 0L, "a", -1L, 2L),
      (3L, 1L, "f1", 100L, 4L),
      (20L, 0L, ".Trash", -1L, 5L),
      (21L, 20L, "Current", -1L, 6L),
      (22L, 21L, "a", -1L, 7L),
      (23L, 22L, "f1", 50L, 8L),   // prior trashed f1 → collision
      (24L, 22L, "f1.1", 60L, 9L), // and its first suffix too
    ).toDF("id", "parentId", "name", "length", "version")
    val out = rows(Mutations.moveToTrash(f, Seq(3L, 23L).toDF("id"),
        idBase = 300L, nowMs = 777L)
      .select(col("writeOp"), col("id"), col("parentId"), col("name"),
        col("reject")))
    // no dirs to create; f1 dodges f1 and f1.1 → f1.2
    assert(out.filter(_.head == "insert").isEmpty)
    assert(out.filter(_.head == "move") ==
      Seq(Seq("move", 3L, 22L, "f1.2", null)))
    // old parent + the pre-existing destination dir
    assert(out.filter(_.head == "touch").map(_(1)).toSet == Set(1L, 22L))
    assert(out.filter(_.head == "reject") ==
      Seq(Seq("reject", 23L, null, null, "already in trash")))
  }

  test("moveToTrash: nested dir+descendant batch — the dir dodges its own mirror") {
    // /a and /a/b/f1 trashed together: f1's mirror chain creates
    // Current/a and Current/a/b; the moved dir /a then collides with the
    // created Current/a and takes a.1
    val out = rows(Mutations.moveToTrash(file, Seq(1L, 3L).toDF("id"),
        idBase = 400L, nowMs = 777L)
      .select(col("writeOp"), col("id"), col("parentId"), col("name")))
    val inserts = out.filter(_.head == "insert")
    assert(inserts.map(_(3)) == Seq(".Trash", "Current", "a", "b"))
    val moves = out.filter(_.head == "move").map(r => r(1) -> (r(2), r(3))).toMap
    assert(moves(3L) == ((404L, "f1")))   // under created Current/a/b
    assert(moves(1L) == ((402L, "a.1")))  // dodges the created Current/a
  }

  test("moveToTrash: a file on the mirror chain blocks the source") {
    val f = Seq(
      (0L, -1L, "", -1L, 1L),
      (1L, 0L, "a", -1L, 2L),
      (3L, 1L, "f1", 100L, 4L),
      (20L, 0L, ".Trash", -1L, 5L),
      (21L, 20L, "Current", -1L, 6L),
      (22L, 21L, "a", 99L, 7L), // a FILE where the mirror dir must be
    ).toDF("id", "parentId", "name", "length", "version")
    val out = rows(Mutations.moveToTrash(f, Seq(3L).toDF("id"),
        idBase = 300L, nowMs = 777L)
      .select(col("writeOp"), col("id"), col("reject")))
    assert(out == Seq(Seq("reject", 3L, "trash path blocked by a file")))
  }

  test("moveToTrash: mirror dirs rank in Spark's string order, not UTF-16's") {
    // U+E000 sorts after a surrogate pair in UTF-16 but before it in UTF-8
    // bytes (Spark's and DuckDB's order): x\uE000 ranks first
    val f = Seq(
      (0L, -1L, "", -1L, 1L),
      (1L, 0L, "x\uE000", -1L, 2L),
      (2L, 0L, "x\uD83D\uDE00", -1L, 3L),
      (3L, 1L, "f", 10L, 4L),
      (4L, 2L, "g", 10L, 5L),
    ).toDF("id", "parentId", "name", "length", "version")
    val ins = rows(Mutations.moveToTrash(f, Seq(3L, 4L).toDF("id"),
        idBase = 200L, nowMs = 777L)
      .filter(col("writeOp") === "insert")
      .select(col("id"), col("parentId"), col("name")).orderBy(col("id")))
    assert(ins == Seq(Seq(201L, 0L, ".Trash"), Seq(202L, 201L, "Current"),
      Seq(203L, 202L, "x\uE000"), Seq(204L, 202L, "x\uD83D\uDE00")))
  }

  test("mirrorChains: the dir-map and materializePaths routes agree; duplicate paths take the lowest dir") {
    // /m/x is held by two live dirs (2, 3) and a file (4): the chain takes
    // dir 2 and the file blocks nothing; /m/blk is only a file, so source
    // 11 is blocked and its leaf dropped; /m/x/deep (6) hangs under dir 2
    val f = Seq(
      (0L, -1L, "", -1L, 1L),
      (1L, 0L, "m", -1L, 2L),
      (2L, 1L, "x", -1L, 3L),
      (3L, 1L, "x", -1L, 4L),
      (4L, 1L, "x", 9L, 5L),
      (5L, 1L, "blk", 9L, 6L),
      (6L, 2L, "deep", -1L, 7L),
    ).toDF("id", "parentId", "name", "length", "version")
    val mirrors = Seq(10L -> "/m/x/new", 11L -> "/m/blk/q", 12L -> "/m/x/deep/z")
    val leaves = Seq((10L, "/m/x/new/0", 5L), (11L, "/m/blk/q/0", 7L))
    def chains(dirs: Option[Map[Long, String]]) =
      Mutations.mirrorChains(f, dirs, mirrors, leaves, idBase = 100L)
    val viaMap = chains(Mutations.dirPaths(f, StateManager.DirMapCap))
    assert(Mutations.dirPaths(f, 0L).isEmpty)
    assert(viaMap == chains(None))
    assert(viaMap.blocked == Set(11L))
    assert(viaMap.created == Seq(
      Mutations.Mirrored("/m/x/deep/z", 101L, 6L, "z", -1L),
      Mutations.Mirrored("/m/x/new", 102L, 2L, "new", -1L),
      Mutations.Mirrored("/m/x/new/0", 103L, 102L, "0", 5L)))
    assert(viaMap.idOf("/m/x") == 2L && viaMap.reused == Seq(6L, 2L))
  }

  test("collectSources: a source set over the cap is refused with the cap and the remedy") {
    val three = Seq(1L, 2L, 3L).toDF("id")
    assert(Mutations.collectSources(three, "narrow it", cap = 3).length == 3)
    val e = intercept[IllegalArgumentException] {
      Mutations.collectSources(three, "narrow it", cap = 2)
    }
    assert(e.getMessage.contains("Mutations.MirrorSourceCap") &&
      e.getMessage.contains("narrow it"))
  }

  test("decommission lifecycle: start/stop/check transition matrix") {
    val dn = Seq(
      (1L, "NORMAL", 10L), (2L, "NORMAL", 20L),
      (3L, "DECOMMISSION_INPROGRESS", 30L), (4L, "DECOMMISSIONED", 40L),
      (5L, "DECOMMISSION_INPROGRESS", 50L), (6L, "NORMAL", 60L),
      (7L, "NORMAL", 70L), (8L, "DECOMMISSION_INPROGRESS", 80L),
    ).toDF("id", "adminState", "version")
    val files = Seq(
      (100L, 0L, "fa", 10L, 2L, None: Option[String], 100L),
      (101L, 0L, "fb", 10L, 1L, Some("h"), 101L),
      (102L, 0L, "fc", 10L, 1L, None: Option[String], -102L), // deleted
    ).toDF("id", "parentId", "name", "length", "replication",
      "leaseHolder", "version")
    val blocks = Seq(
      // 900: node 1 + two NORMAL holders → still fully replicated if 1 leaves
      (900L, 1L, 10L, 1L, 100L, 1L, 1L), (900L, 6L, 10L, 1L, 100L, 1L, 2L),
      (900L, 7L, 10L, 1L, 100L, 1L, 3L),
      // 901: node 1's replica is the ONLY one, file open → under +
      // decommission-only + open-file counters all fire
      (901L, 1L, 10L, 1L, 101L, 1L, 4L),
      // 903: its file is deleted → skipped entirely (file == null guard)
      (903L, 1L, 10L, 1L, 102L, 1L, 5L),
      // 902: node 3's block is safe elsewhere → its check retires it
      (902L, 3L, 10L, 1L, 100L, 2L, 6L), (902L, 6L, 10L, 1L, 100L, 2L, 7L),
      (902L, 7L, 10L, 1L, 100L, 2L, 8L),
      // 904: node 8 still needed (1 live < 2 expected) → stays in-progress
      (904L, 8L, 10L, 1L, 100L, 3L, 9L), (904L, 6L, 10L, 1L, 100L, 3L, 10L),
    ).toDF("id", "datanodeId", "length", "generationStamp", "fileId",
      "fileIndex", "version")
    val reqs = Seq((1L, "start"), (2L, "start"), (4L, "start"), (5L, "stop"))
      .toDF("nodeId", "op")
    val out = rows(Mutations.setAdminState(dn, blocks, files, reqs)
      .select(col("id"), col("writeOp"), col("prevAdminState"), col("adminState"),
        col("underReplicatedBlocks"), col("decommissionOnlyReplicas"),
        col("underReplicatedInOpenFiles"), col("version")))
      .map(r => r.head -> r.tail).toMap
    // start with an under-replicated open-file block → in progress
    assert(out(1L) == Seq("admin", "NORMAL", "DECOMMISSION_INPROGRESS",
      1L, 1L, 1L, 11L))
    // start holding nothing → retires in the same batch (:3190 check)
    assert(out(2L) == Seq("admin", "NORMAL", "DECOMMISSIONED", 0L, 0L, 0L, 21L))
    // standing in-progress node whose blocks are all safe → finishes
    assert(out(3L) == Seq("admin", "DECOMMISSION_INPROGRESS", "DECOMMISSIONED",
      0L, 0L, 0L, 31L))
    // stop → back to NORMAL, no counters, version bumped
    assert(out(5L) == Seq("admin", "DECOMMISSION_INPROGRESS", "NORMAL",
      null, null, null, 51L))
    // still-needed node: status row only, version unchanged
    assert(out(8L) == Seq("status", "DECOMMISSION_INPROGRESS",
      "DECOMMISSION_INPROGRESS", 1L, 0L, 0L, 80L))
    // start on an already-DECOMMISSIONED node is skipped (:3183)
    assert(!out.contains(4L) && out.size == 5)
    // no requests: the DecommissionedMonitor re-check alone — every
    // standing in-progress node is re-gated, nothing else is touched
    val recheck = rows(Mutations.setAdminState(dn, blocks, files,
        Seq.empty[(Long, String)].toDF("nodeId", "op"))
      .select(col("id"), col("writeOp"), col("adminState")))
      .map(r => r.head -> r.tail).toMap
    assert(recheck == Map(3L -> Seq("admin", "DECOMMISSIONED"),
      5L -> Seq("admin", "DECOMMISSIONED"),
      8L -> Seq("status", "DECOMMISSION_INPROGRESS")))
  }

  test("lease release: finalize/recover/nnlease transition matrix") {
    val nowMs = 1000000000L // expiry window = 600000 → lastUpdated 0 is dead
    val files = Seq(
      (100L, Some("h1"), 100L), // no blocks at all → finalize len 0
      (101L, Some("h1"), 101L), // only a NULL_DATANODE flag row → finalize
      (102L, Some("h2"), 102L), // dead + alive replica → recover, primary 2
      (103L, Some("h2"), 103L), // only a dead replica → nnlease
      (104L, Some("h3"), 104L), // holder not released → untouched
      (105L, Some("h1"), 105L), // replica on an unknown node → finalize
      (106L, Some("h1"), 106L), // 2 indexes, last under construction → recover
      (107L, Some("h2"), 107L), // 3 alive targets → rotation picks 3, not 2
    ).toDF("id", "leaseHolder", "version")
    val blocks = Seq(
      (11L, 0L, 500L, 1L, 101L, 0L, 5L),
      (21L, 1L, 1000L, 1L, 102L, 0L, 2L), (21L, 2L, 1000L, 1L, 102L, 0L, 3L),
      (31L, 1L, 400L, 1L, 103L, 0L, 4L),
      (51L, 9L, 700L, 1L, 105L, 0L, 6L),
      (61L, 2L, 100L, 1L, 106L, 0L, 7L), (62L, 2L, -1L, 1L, 106L, 1L, 8L),
      (71L, 2L, 800L, 1L, 107L, 0L, 9L), (71L, 3L, 800L, 1L, 107L, 0L, 10L),
      (71L, 5L, 800L, 1L, 107L, 0L, 11L),
    ).toDF("id", "datanodeId", "length", "generationStamp", "fileId",
      "fileIndex", "version")
    val dn = Seq(
      (1L, 0L, 1L), (2L, nowMs, 2L), (3L, nowMs, 3L), (5L, nowMs, 4L),
    ).toDF("id", "lastUpdated", "version")
    val holders = Seq("h1", "h2").toDF("holder")
    val out = rows(Mutations.releaseLeases(files, blocks, dn, holders, nowMs)
      .orderBy(col("writeOp"), col("id")))
    assert(out == Seq(
      // finalize: length = Σ primary lengths > 0, holder cleared, bump
      Seq("finalize", "file", 100L, 0L, null, 0L, null, null, 101L),
      Seq("finalize", "file", 101L, 500L, null, 0L, null, null, 102L),
      Seq("finalize", "file", 105L, 700L, null, 0L, null, null, 106L),
      // lease renew row for the NN_Recovery takeover, stamped nowMs
      Seq("lease", "lease", -1L, null, "NN_Recovery", null, null, null, nowMs),
      // nnlease: targets exist but none alive
      Seq("nnlease", "file", 103L, null, "NN_Recovery", null, null, null, 104L),
      // recover: 102 → only alive target 2; 106 → LAST entry's block (62);
      // 107 → rotation from nowMs % 3 = 1 over [2,3,5] picks 3 (not min 2)
      Seq("recover", "cmd", 102L, null, null, null, 21L, 2L, 102L),
      Seq("recover", "cmd", 106L, null, null, null, 62L, 2L, 106L),
      Seq("recover", "cmd", 107L, null, null, null, 71L, 3L, 107L)))
  }

  test("commitBlockSync: delete/retarget/flag/finalize matrix") {
    val files = Seq(
      (200L, Some("h"), 10L),
      (201L, None: Option[String], 11L), // not under construction
      (203L, Some("h2"), 13L), (204L, Some("h3"), 14L),
      (205L, Some("h4"), 15L),
    ).toDF("id", "leaseHolder", "version")
    val blocks = Seq(
      (300L, 1L, 900L, 5L, 200L, 0L, 30L), (300L, 2L, 900L, 5L, 200L, 0L, 31L),
      (301L, 1L, 500L, 5L, 200L, 1L, 32L), // untouched sibling entry
      (310L, 1L, 100L, 3L, 201L, 0L, 40L),
      (330L, 1L, 700L, 4L, 203L, 0L, 50L), (330L, 0L, -1L, 4L, 203L, 0L, 51L),
      (340L, 1L, 800L, 4L, 204L, 0L, 60L),
      (350L, 1L, 850L, 4L, 205L, 0L, 70L), (350L, 0L, -1L, 4L, 205L, 0L, 71L),
    ).toDF("id", "datanodeId", "length", "generationStamp", "fileId",
      "fileIndex", "version")
    val dn = Seq((1L, 1L), (2L, 2L)).toDF("id", "version")
    val reqs = Seq(
      // retarget to {2} (dup + unknown 9 collapse), close the file
      (300L, 6L, true, false, Seq(2L, 9L, 2L)),
      (310L, 7L, false, false, Seq(1L)),   // reject: not under construction
      (320L, 8L, false, false, Seq(1L)),   // reject: block not found
      (330L, 5L, false, false, Seq(9L)),   // no valid target, flag KEPT
      (340L, 9L, false, false, Seq.empty[Long]), // no target, flag INSERTED
      (350L, 9L, true, true, Seq(1L)),     // deleteBlock: all rows incl flag
    ).toDF("blockId", "newGenStamp", "closeFile", "deleteBlock", "targets")
    val out = rows(Mutations.commitBlockSync(files, blocks, dn, reqs,
        versionBase = 9000L)
      .orderBy(col("writeOp"), col("id"), col("datanodeId")))
    assert(out == Seq(
      // finalize reads the POST image: 300's fresh rows are -1 (excluded),
      // sibling entry 301 carries the length; 205 loses everything
      Seq("finalize", "file", 200L, null, 500L, null, 200L, null, 11L, null),
      Seq("finalize", "file", 205L, null, 0L, null, 205L, null, 16L, null),
      Seq("insert", "block", 300L, 2L, -1L, 6L, 200L, 0L, 9001L, null),
      Seq("insert", "block", 340L, 0L, -1L, 9L, 204L, 0L, 9002L, null),
      Seq("reject", "block", 310L, null, null, 7L, 201L, null, 0L,
        "file not under construction"),
      Seq("reject", "block", 320L, null, null, 8L, null, null, 0L,
        "block not found"),
      Seq("tombstone", "block", 300L, 1L, 900L, 5L, 200L, 0L, -30L, null),
      Seq("tombstone", "block", 300L, 2L, 900L, 5L, 200L, 0L, -31L, null),
      Seq("tombstone", "block", 330L, 1L, 700L, 4L, 203L, 0L, -50L, null),
      Seq("tombstone", "block", 340L, 1L, 800L, 4L, 204L, 0L, -60L, null),
      Seq("tombstone", "block", 350L, 0L, -1L, 4L, 205L, 0L, -71L, null),
      Seq("tombstone", "block", 350L, 1L, 850L, 4L, 205L, 0L, -70L, null)))
  }

  test("blockSyncVersionBase clears any block-version scale (high-version fixture)") {
    // sf-coupled constants broke here before: a driver bump to bigger
    // testdata pushed versions past the old 30M literal. The derived
    // base is the next 10M boundary above the max LIVE version — a
    // tombstone's magnitude (|−v|) never exceeds a live sibling's, so
    // the S6 latest-wins guard is satisfied at any scale.
    val blocks = Seq(
      (300L, 1L, 900L, 5L, 200L, 0L, 123456789012L),
      (300L, 2L, 900L, 5L, 200L, 0L, -123456789013L), // tombstone ignored
    ).toDF("id", "datanodeId", "length", "generationStamp", "fileId",
      "fileIndex", "version")
    val base = Mutations.blockSyncVersionBase(blocks)
    assert(base == 123460000000L && base > 123456789012L)
    // and it feeds commitBlockSync's guard without tripping
    val files = Seq((200L, Some("h"), 10L)).toDF("id", "leaseHolder", "version")
    val dn = Seq((2L, 1L)).toDF("id", "version")
    val reqs = Seq((300L, 6L, false, false, Seq(2L)))
      .toDF("blockId", "newGenStamp", "closeFile", "deleteBlock", "targets")
    val ins = rows(Mutations.commitBlockSync(files, blocks, dn, reqs, base)
      .filter(col("writeOp") === "insert").select(col("version")))
    assert(ins == Seq(Seq(base + 1L)))
  }

  test("S17 upsert: storageId collision evicts the old node row") {
    val dn = Seq(
      (11L, "dn11", "DS-A", 0L, 0L, 1L, 1L, 1L, 1L, 1L, "/r1", "NORMAL", 1L),
      (12L, "dn12", "DS-B", 0L, 0L, 1L, 1L, 1L, 1L, 1L, "/r1", "NORMAL", 2L),
    ).toDF("id", "name", "storageId", "ipcPort", "infoPort", "capacity", "dfsUsed",
      "remaining", "lastUpdated", "xceiverCount", "location", "adminState", "version")
    val regs = Seq(
      (13L, "dn13", "DS-A", 0L, 0L, 1L, 1L, 1L, 9L, 1L, "/r2", "NORMAL", 3L),
    ).toDF("id", "name", "storageId", "ipcPort", "infoPort", "capacity", "dfsUsed",
      "remaining", "lastUpdated", "xceiverCount", "location", "adminState", "version")
    val out = rows(Mutations.datanodeUpsert(dn, regs).select(col("id"), col("storageId")))
      .map(r => r.head -> r.last).toMap
    assert(out == Map(12L -> "DS-B", 13L -> "DS-A")) // node 11 evicted
  }
}
