package graft

import org.apache.spark.sql.functions._

import graft.cli.Shell
import graft.model.DerivedState
import graft.state.StateManager

/** Drives the FsShell-style CLI end-to-end through Shell.run — the same
  * dispatch `main` shows — covering the round-6 verbs (cat/text/tail/
  * test/getmerge/setrep/chown) plus a smoke pass over the originals. */
class ShellSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("content verbs read the engine's SequenceFile format") {
    val tmp = graft.core.Caching.scratchDir("shellspec").toString
    val kv = Seq(("1", "a"), ("2", "b"), ("3", "c"), ("4", "d")).toDF("key", "value")
    graft.sources.Formats.writeSequenceFile(
      kv.filter($"key" <= "2"), s"$tmp/runA", sorted = true)
    graft.sources.Formats.writeSequenceFile(
      kv.filter($"key" > "2"), s"$tmp/runB", sorted = true)

    assert(rows(Shell.run(spark, sf, "cat", Seq(s"$tmp/runA")))
      == Seq(Seq("1", "a"), Seq("2", "b")))
    assert(rows(Shell.run(spark, sf, "text", Seq(s"$tmp/runB")))
      == Seq(Seq("3", "c"), Seq("4", "d")))
    // tail keeps the LAST n by key, re-sorted ascending for display
    assert(rows(Shell.run(spark, sf, "tail", Seq(s"$tmp/runA", "1")))
      == Seq(Seq("2", "b")))
    // getmerge: pre-sorted runs → one merged sequence file, shown back
    assert(rows(Shell.run(spark, sf, "getmerge",
        Seq(s"$tmp/runA", s"$tmp/runB", s"$tmp/merged")))
      == Seq(Seq("1", "a"), Seq("2", "b"), Seq("3", "c"), Seq("4", "d")))
    // the FsShell-standard 2-arg form (one source) is valid too
    assert(rows(Shell.run(spark, sf, "getmerge", Seq(s"$tmp/runA", s"$tmp/merged1")))
      == Seq(Seq("1", "a"), Seq("2", "b")))
  }

  test("namespace verbs: test, setrep, chown against the derived state") {
    DerivedState.register(spark, sf)
    // a real live file path from the snapshot, built by the S2 operator
    val sample = StateManager.materializePaths(spark.table("file"))
      .filter(col("length") >= 0 && col("version") > 0)
      .orderBy(col("id"))
      .select(col("id"), col("path")).limit(1).collect().head
    val (fid, fpath) = (sample.getLong(0), sample.getString(1))

    assert(rows(Shell.run(spark, sf, "test", Seq(fpath)))
      == Seq(Seq(fpath, true, false, true)))
    assert(rows(Shell.run(spark, sf, "test", Seq("/")))
      == Seq(Seq("/", true, true, false)))
    assert(rows(Shell.run(spark, sf, "test", Seq("/no/such/path")))
      == Seq(Seq("/no/such/path", false, false, false)))

    val rep = rows(Shell.run(spark, sf, "setrep", Seq(fpath, "7")))
    assert(rep.size == 1 && rep.head(0) == fid && rep.head(2) == 7L)

    val own = rows(Shell.run(spark, sf, "chown", Seq(fpath, "42")))
    assert(own.size == 1 && own.head(0) == fid && own.head(2) == 42L)

    // chmod: validates mode + path, then — like the reference's no-op
    // setPermission (no permission column in the file model) — returns
    // the live row untouched, version included
    val before = rows(spark.table("file").filter(col("id") === fid)
      .select(col("id"), col("name"), col("owner"), col("version")))
    assert(rows(Shell.run(spark, sf, "chmod", Seq(fpath, "755"))) == before)
    assertThrows[IllegalArgumentException](
      Shell.run(spark, sf, "chmod", Seq(fpath, "9x8")))
    assertThrows[IllegalArgumentException](
      Shell.run(spark, sf, "chmod", Seq("/no/such/path", "755")))

    // chgrp: same no-op fidelity class (no group column in the model)
    assert(rows(Shell.run(spark, sf, "chgrp", Seq(fpath, "staff"))) == before)
    assertThrows[IllegalArgumentException](
      Shell.run(spark, sf, "chgrp", Seq("/no/such/path", "staff")))

    // df: one cluster-stats row with a bounded use percentage
    val df0 = rows(Shell.run(spark, sf, "df", Seq()))
    assert(df0.size == 1)
    val usePct = df0.head(3).asInstanceOf[Double]
    assert(usePct >= 0.0 && usePct <= 100.0)

    // smoke: the original verbs still dispatch
    assert(rows(Shell.run(spark, sf, "test", Seq(fpath))).nonEmpty)
    assert(Shell.run(spark, sf, "fsck", Seq()).count() >= 1)
    assert(Shell.run(spark, sf, "ls", Seq("/")).count() >= 1)
  }

  test("mutation verbs emit the operators' write-sets") {
    DerivedState.register(spark, sf)
    val file = spark.table("file")
    val maxId = file.agg(max(col("id"))).collect().head.getLong(0)
    val sampleFile = StateManager.materializePaths(file)
      .filter(col("length") >= 0 && col("version") > 0)
      .orderBy(col("id")).select(col("id"), col("path")).limit(1).collect().head
    val sampleDir = StateManager.materializePaths(file)
      .filter(col("length") === -1 && col("id") > 0 && col("version") > 0)
      .orderBy(col("id")).select(col("id"), col("path")).limit(1).collect().head

    // mkdir under root: one insert row with a fresh id and dir length
    val mk = rows(Shell.run(spark, sf, "mkdir", Seq("/shellspec_dir"))
      .filter(col("writeOp") === "insert")
      .select(col("id"), col("name"), col("length")))
    assert(mk == Seq(Seq(maxId + 1, "shellspec_dir", -1L)))
    // touchz: same shape, zero length
    val tz = rows(Shell.run(spark, sf, "touchz", Seq("/shellspec_file"))
      .filter(col("writeOp") === "insert").select(col("name"), col("length")))
    assert(tz == Seq(Seq("shellspec_file", 0L)))
    // mv: the sample file moves under root with a new name
    val mv = rows(Shell.run(spark, sf, "mv",
        Seq(sampleFile.getString(1), "/shellspec_moved"))
      .filter(col("writeOp") === "move")
      .select(col("id"), col("parentId"), col("name")))
    assert(mv == Seq(Seq(sampleFile.getLong(0), 0L, "shellspec_moved")))
    // cp: one copied file row + its duplicated block rows
    val cp = rows(Shell.run(spark, sf, "cp",
        Seq(sampleFile.getString(1), "/shellspec_copy"))
      .select(col("writeOp"), col("tbl"), col("name"), col("srcId")))
    assert(cp.count(r => r(1) == "file") == 1
      && cp.exists(r => r(1) == "file" && r(2) == "shellspec_copy"
        && r(3) == sampleFile.getLong(0)))
    // a refused copy (destination exists) fails loud
    assertThrows[IllegalArgumentException](
      Shell.run(spark, sf, "cp", Seq(sampleFile.getString(1), sampleFile.getString(1))))
    // expunge: the snapshot has no .Trash dir → an empty write-set
    assert(Shell.run(spark, sf, "expunge", Seq()).count() == 0)
    // rm on a live file: tombstone row (version < 0, no reject)
    val rm = rows(Shell.run(spark, sf, "rm", Seq(sampleFile.getString(1)))
      .select(col("id"), col("reject"), col("version")))
    assert(rm.size == 1 && rm.head(0) == sampleFile.getLong(0)
      && rm.head(1) == null && rm.head(2).asInstanceOf[Long] < 0)
    // rmr on a dir: whole subtree tombstoned, root included
    val rmr = rows(Shell.run(spark, sf, "rmr", Seq(sampleDir.getString(1)))
      .select(col("id"), col("version")))
    assert(rmr.nonEmpty && rmr.forall(_(1).asInstanceOf[Long] < 0)
      && rmr.exists(_(0) == sampleDir.getLong(0)))
    // rm -trash: no delete — the file MOVES under the created mirror chain
    val rt = rows(Shell.run(spark, sf, "rm",
        Seq("-trash", sampleFile.getString(1)))
      .select(col("writeOp"), col("id"), col("name")))
    assert(rt.count(_.head == "move") == 1
      && rt.exists(r => r.head == "insert" && r(2) == ".Trash")
      && rt.exists(r => r.head == "insert" && r(2) == "Current")
      && rt.forall(_.head != "reject"))
    // rm -trash on the root fails loud (the trash-container guard)
    assertThrows[IllegalArgumentException](
      Shell.run(spark, sf, "rm", Seq("-trash", "/")))
  }

  test("dfsadmin verbs: safemode ratio; refreshNodes reconciles hosts/excludes") {
    DerivedState.register(spark, sf)
    val sm = Shell.run(spark, sf, "safemode").collect().head
    assert(sm.getAs[Long]("totalBlocks") > 0
      && sm.getAs[Double]("ratio") >= 0.0 && sm.getAs[Double]("ratio") <= 1.0)
    val nodes = spark.table("datanode").filter(col("version") > 0)
      .select(col("id"), col("name"), col("adminState")).collect()
    val normals = nodes.filter(_.getString(2) == "NORMAL")
    assert(normals.length >= 2, "fixture needs two NORMAL nodes")
    val (exclNode, droppedNode) = (normals(0), normals(1))
    val tmp = graft.core.Caching.scratchDir("refresh")
    val hostsFile = tmp.resolve("hosts")
    val exclFile = tmp.resolve("excludes")
    // hosts = everyone but droppedNode; excludes = exclNode
    java.nio.file.Files.write(hostsFile,
      nodes.map(_.getString(1)).filter(_ != droppedNode.getString(1))
        .mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(exclFile,
      exclNode.getString(1).getBytes("UTF-8"))
    val out = Shell.run(spark, sf, "refreshNodes",
      Seq(hostsFile.toString, exclFile.toString)).collect()
    // case 3: the excluded NORMAL node starts decommissioning (or lands
    // DECOMMISSIONED at once when its replicas are already elsewhere)
    val ex = out.filter(_.getAs[Long]("id") == exclNode.getLong(0))
    assert(ex.nonEmpty && ex.head.getAs[String]("prevAdminState") == "NORMAL"
      && ex.head.getAs[String]("adminState").startsWith("DECOMMISSION"))
    // case 2: the not-in-hosts node is decommissioned outright
    val dr = out.filter(_.getAs[Long]("id") == droppedNode.getLong(0))
    assert(dr.map(r => (r.getAs[String]("writeOp"), r.getAs[String]("adminState")))
      .toSeq == Seq(("admin", "DECOMMISSIONED")))
    // metasave/finalizeUpgrade: empty bodies in the reference → no-ops
    assert(Shell.run(spark, sf, "metasave", Seq("x")).isEmpty)
    assert(Shell.run(spark, sf, "finalizeUpgrade").isEmpty)
  }

  test("quota admin verbs emit side-table write-sets that count -q consumes") {
    DerivedState.register(spark, sf)
    val dir = StateManager.materializePaths(spark.table("file"))
      .filter(col("length") === -1L && col("version") > 0 && col("id") > 0L)
      .orderBy(col("id")).select(col("id"), col("path")).limit(1).collect().head
    val (did, dpath) = (dir.getLong(0), dir.getString(1))
    val set = Shell.run(spark, sf, "setQuota", Seq("500", dpath)).collect()
    assert(set.map(r => (r.getAs[Long]("dirId"), r.getAs[Long]("nsQuota"),
      r.getAs[Long]("dsQuota"))).toSeq == Seq((did, 500L, Long.MaxValue)))
    val clr = Shell.run(spark, sf, "clrSpaceQuota", Seq(dpath)).collect()
    assert(clr.head.getAs[Long]("dsQuota") == -1L
      && clr.head.getAs[Long]("nsQuota") == Long.MaxValue)
    // the write-set rows ARE the quotas frame contentSummary consumes
    val quotas = Shell.run(spark, sf, "setQuota", Seq("500", dpath))
      .select(col("dirId"), col("nsQuota"), col("dsQuota"))
    val cs = graft.analytics.Dataflows.contentSummary(
      spark.table("file"), Seq(did), quotas = Some(quotas)).collect().head
    assert(cs.getAs[Long]("quota") == 500L)
    // a FILE target refuses loud, a zero quota refuses loud
    val f = StateManager.materializePaths(spark.table("file"))
      .filter(col("length") >= 0L && col("version") > 0)
      .orderBy(col("id")).select(col("path")).limit(1).collect().head.getString(0)
    intercept[IllegalArgumentException] {
      Shell.run(spark, sf, "setQuota", Seq("5", f))
    }
    intercept[IllegalArgumentException] {
      Shell.run(spark, sf, "setQuota", Seq("0", dpath))
    }
  }

  test("fsck -blocks/-locations/-racks: per-block detail, path-scoped, flag-gated columns") {
    val base = Shell.run(spark, sf, "fsck", Seq("-blocks", "/n_7"))
    assert(base.columns.toSeq == Seq("path", "fileId", "blockId", "fileIndex",
      "blockLen", "liveReplicas", "expectedReplication", "missing",
      "underReplicated", "overReplicated", "misReplicated"))
    val paths = base.select("path").collect().map(_.getString(0))
    assert(paths.nonEmpty && paths.forall(_.startsWith("/n_7")))
    val locs = Shell.run(spark, sf, "fsck", Seq("-locations", "/n_7"))
    assert(locs.columns.contains("locations") && !locs.columns.contains("racks"))
    val racks = Shell.run(spark, sf, "fsck", Seq("-racks", "/n_7"))
    assert(racks.columns.contains("racks") && racks.columns.contains("locations"))
    // healthy blocks list every live holder; scope defaults to /
    val withLoc = racks.filter(col("liveReplicas") > 0).limit(5).collect()
    assert(withLoc.forall(r => r.getAs[String]("locations")
      .split(",").length == r.getAs[Long]("liveReplicas")))
    // a trailing slash scopes identically (stored paths carry none)
    assert(Shell.run(spark, sf, "fsck", Seq("-blocks", "/n_7/")).count()
      == base.count())
    // action flags beat print flags: -move combined with -blocks must
    // still produce the rescue write-set, never silently drop it
    val combo = Shell.run(spark, sf, "fsck", Seq("-move", "-blocks"))
    assert(combo.columns.contains("writeOp"))
    // safemode verb surfaces exactly Dataflows.safeModeStatus (whose
    // truncated-threshold semantics DataflowsSpec pins directly)
    val sm = Shell.run(spark, sf, "safemode").collect().head
    val expect = graft.analytics.Dataflows
      .safeModeStatus(spark.table("block"), 1, 0.999).collect().head
    assert(sm == expect)
  }

  test("fsck <path>: the report and -files cover only the subtree at the path") {
    DerivedState.register(spark, sf)
    def totals(args: String*) = Shell.run(spark, sf, "fsck", args)
      .select(col("totalFiles"), col("totalDirs"), col("totalOpenFiles"))
      .collect().head.toSeq
    val under = StateManager.materializePaths(spark.table("file"))
      .filter(col("path") === "/n_7" || col("path").startsWith("/n_7/"))
    val expect = under.agg(
      count(when(col("length") =!= -1L && col("leaseHolder").isNull, 1)),
      count(when(col("length") === -1L, 1)),
      count(when(col("length") =!= -1L && col("leaseHolder").isNotNull, 1)))
      .collect().head.toSeq
    val (scoped, whole) = (totals("/n_7"), totals())
    assert(scoped == expect)
    assert(scoped.zip(whole).forall { case (s0, w) => s0.asInstanceOf[Long] <= w.asInstanceOf[Long] }
      && scoped.head.asInstanceOf[Long] < whole.head.asInstanceOf[Long], s"$scoped vs $whole")
    val files = Shell.run(spark, sf, "fsck", Seq("-files", "/n_7")).collect().toSeq
    val filtered = Shell.run(spark, sf, "fsck", Seq("-files"))
      .filter(col("path") === "/n_7" || col("path").startsWith("/n_7/")).collect().toSeq
    assert(files.nonEmpty && files == filtered)
  }

  test("put writes the namenode-side block chain from a real local file; get reads the manifest") {
    DerivedState.register(spark, sf)
    // a real local file whose length spans 2 blocks at a small blockSize
    val local = java.nio.file.Files.createTempFile("shellput", ".bin")
    java.nio.file.Files.write(local, new Array[Byte](1500))
    spark.conf.set("graft.dfs.block.size", "1024")
    try {
      // a live directory from the snapshot to put into
      val dir = StateManager.materializePaths(spark.table("file"))
        .filter(col("length") === -1L && col("version") > 0 && col("id") > 0L)
        .orderBy(col("id")).select(col("path")).limit(1).collect().head.getString(0)
      val out = Shell.run(spark, sf, "put",
        Seq(local.toString, s"$dir/shellput.bin")).collect()
      val ins = out.filter(_.getAs[String]("writeOp") == "insert")
      assert(ins.length == 1 && ins.head.getAs[Long]("length") == 1500L)
      val blks = out.filter(_.getAs[String]("writeOp") == "blockInsert")
        .sortBy(_.getAs[Long]("fileIndex"))
      assert(blks.map(_.getAs[Long]("length")).toSeq == Seq(1024L, 476L),
        "two blocks: one full, one partial tail")
      assert(blks.forall(_.getAs[Long]("parentId") == ins.head.getAs[Long]("id")),
        "block rows attach to the new file id")
      // get on an existing file returns its distance-ordered manifest
      val someFile = StateManager.materializePaths(spark.table("file"))
        .filter(col("length") > 0L && col("version") > 0)
        .orderBy(col("id")).select(col("path")).limit(1).collect().head.getString(0)
      val manifest = Shell.run(spark, sf, "get", Seq(someFile)).collect()
      assert(manifest.nonEmpty && manifest.head.schema.fieldNames.toSeq ==
        Seq("fileId", "id", "fileIndex", "blockStart", "blockEnd", "orderedReplicas"))
      // the reference refuses moveToLocal (FsShell.java:329-330) — so do we
      intercept[UnsupportedOperationException] {
        Shell.run(spark, sf, "moveToLocal", Seq(someFile))
      }
      // moveFromLocal deletes the local source after a successful put
      val local2 = java.nio.file.Files.createTempFile("shellmv", ".bin")
      java.nio.file.Files.write(local2, new Array[Byte](10))
      Shell.run(spark, sf, "moveFromLocal", Seq(local2.toString, s"$dir/shellmv.bin"))
      assert(!java.nio.file.Files.exists(local2))
      // a refused put (missing parent) fails loud with the reason
      val err = intercept[IllegalArgumentException] {
        Shell.run(spark, sf, "put", Seq(local.toString, "/no/such/dir/f.bin"))
      }
      assert(err.getMessage.contains("no such path"))
    } finally {
      spark.conf.unset("graft.dfs.block.size")
      java.nio.file.Files.deleteIfExists(local)
    }
  }

  test("ls with a glob pattern lists the matches, not children") {
    val out = rows(Shell.run(spark, sf, "ls", Seq("/n_{3,7}")))
    assert(out.map(_.head) == Seq("/n_3", "/n_7"))
  }

  test("rm -trash expands globs: both matches move under the mirror chain") {
    val rt = rows(Shell.run(spark, sf, "rm", Seq("-trash", "/n_{3,7}"))
      .select(col("writeOp"), col("name")))
    assert(rt.count(_.head == "move") == 2
      && rt.exists(r => r.head == "move" && r(1) == "n_3")
      && rt.exists(r => r.head == "move" && r(1) == "n_7")
      && rt.forall(_.head != "reject"))
  }

  test("mkdir refuses when graft.dfs.max.objects is at or below the live count") {
    spark.conf.set("graft.dfs.max.objects", "1")
    try assertThrows[IllegalStateException](
      Shell.run(spark, sf, "mkdir", Seq("/shellspec_capped")))
    finally spark.conf.unset("graft.dfs.max.objects")
    // gate released → the same request goes through
    assert(Shell.run(spark, sf, "mkdir", Seq("/shellspec_capped"))
      .filter(col("writeOp") === "insert").count() == 1)
  }

  test("multi-target verbs expand globs: count and rmr over matches") {
    // count over two nation subtrees at once — one summary row each
    val cnt = rows(Shell.run(spark, sf, "count", Seq("/n_{3,7}")))
    assert(cnt.size == 2)
    // rmr over the glob tombstones both subtrees (write-set only)
    val rmr = rows(Shell.run(spark, sf, "rmr", Seq("/n_{3,7}"))
      .select(col("id"), col("version")))
    assert(rmr.count(r => Seq(4L, 8L).contains(r.head)) == 2
      && rmr.forall(_(1).asInstanceOf[Long] < 0))
  }

  test("stats verb: capacity aggregates plus the getStats block counters") {
    val out = rows(Shell.run(spark, sf, "stats"))
    assert(out.size == 1)
    val r = Shell.run(spark, sf, "stats").collect().head
    assert(r.getAs[Long]("capacity") > 0)
    assert(r.getAs[Long]("underReplicatedBlocks") > 0) // dead nodes exist
    assert(r.getAs[Long]("corruptReplicaBlocks") == 0) // empty standing map
  }

  test("score verb: LM bucket report covers all three terciles") {
    val out = Shell.run(spark, sf, "score").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("head", "middle", "tail"))
    val counts = out.map(r => r.getString(0) -> r.getAs[Long]("nDocs")).toMap
    // exact terciles of the 500 scorable docs at sf0.001
    assert(counts("head") == 167 && counts("middle") == 167
      && counts("tail") == 166, s"got $counts")
    // bucket ranges must not overlap: tail < v33 <= middle < v67 <= head
    val rng = out.map(r => r.getString(0) ->
      ((r.getAs[Long]("minScore"), r.getAs[Long]("maxScore")))).toMap
    assert(rng("tail")._2 < rng("middle")._1 && rng("middle")._2 < rng("head")._1,
      s"got $rng")
  }

  test("classify verb: keep/drop tallies cover both verdicts, scores split at 0") {
    val out = Shell.run(spark, sf, "classify").collect()
    assert(out.map(_.getBoolean(0)).toSeq == Seq(false, true))
    val m = out.map(r => r.getBoolean(0) -> r.getAs[Long]("nDocs")).toMap
    assert(m(false) + m(true) == 500L && m(false) > 0 && m(true) > 0, s"got $m")
    val byKeep = out.map(r => r.getBoolean(0) ->
      ((r.getAs[Long]("minScore"), r.getAs[Long]("maxScore")))).toMap
    assert(byKeep(false)._2 <= 0L && byKeep(true)._1 > 0L, s"got $byKeep")
  }

  test("langid verb: all three routed languages tallied, thirds of the corpus") {
    val out = Shell.run(spark, sf, "langid").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("en", "r1", "r2"))
    val m = out.map(r => r.getString(0) -> r.getAs[Long]("nDocs")).toMap
    assert(m.values.sum == 500L && m.values.forall(n => n >= 160 && n <= 170),
      s"got $m")
  }

  test("drift verb: the A/A comparison stays quiet, the shifted one trips") {
    val out = Shell.run(spark, sf, "drift").collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(out == Map("same" -> false, "shift" -> true), s"got $out")
  }

  test("oiv verb: ls lines by default, INODE elements under -xml") {
    val ls = Shell.run(spark, sf, "oiv").collect()
    assert(ls.nonEmpty && ls.forall(_.getString(0).matches("^[d-] .*")))
    val xml = Shell.run(spark, sf, "oiv", Seq("-xml")).collect()
    assert(xml.nonEmpty && xml.forall(r =>
      r.getString(0).startsWith("<INODE>") && r.getString(0).endsWith("</INODE>")))
  }

  test("balancer verb: schedule and -report classification") {
    val rep = rows(Shell.run(spark, sf, "balancer",
      Seq("-report", "-threshold", "0.08")))
    assert(rep.nonEmpty)
    val classes = rep.map(_(2).asInstanceOf[String]).toSet
    assert(classes.subsetOf(Set("overUtilized", "aboveAvgUtilized",
      "belowAvgUtilized", "underUtilized")))
    val sched = rows(Shell.run(spark, sf, "balancer",
      Seq("-threshold", "0.08")))
    assert(sched.nonEmpty && sched.forall(_(3).asInstanceOf[Long] > 0))
  }
}
