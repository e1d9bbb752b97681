package graft

import org.apache.spark.sql.functions._

import graft.analytics.Placement
import graft.store.{Comparator, IndexDef, StateStore}

/** Algebraic laws of the find() comparator surface on a seeded random
  * table, plus placement edge cases — the reference's semantics that are
  * easy to break silently during refactors. */
class AlgebraLawsSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private lazy val tbl = (1 to 400)
    .map(i => (i.toLong, rnd.nextInt(40).toLong, rnd.nextInt(1000).toLong, i.toLong))
    .toDF("id", "grp", "value", "version")
  private val ById = IndexDef("PRIMARY", Seq("id"))
  private val ByGrp = IndexDef("GRP", Seq("grp"))

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("snapshotDiff law: applying the diff to snapshot(v1) reconstructs snapshot(v2)") {
    // random op history: ~1/4 deletes (negative versions), keys reused so
    // every change type occurs; the law must hold for ANY cut pair.
    // Dedicated Random: drawing from the spec-shared `rnd` would shift
    // the lazy `tbl` fixture's stream for every other law test
    val diffRnd = new scala.util.Random(11)
    val hist = (1 to 300).map { v =>
      val key = diffRnd.nextInt(25).toLong
      val del = diffRnd.nextInt(4) == 0
      (key, diffRnd.nextInt(1000).toLong, if (del) -v.toLong else v.toLong)
    }.toDF("id", "value", "version")
    for ((v1, v2) <- Seq((0L, 300L), (50L, 200L), (120L, 121L), (200L, 300L))) {
      def snap(v: Long) = StateStore.snapshotAsOf(hist, Seq("id"), v)
        .select("id", "value", "version").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val before = snap(v1)
      val after = snap(v2)
      val diff = StateStore.snapshotDiff(hist, Seq("id"), v1, v2).collect()
      val reconstructed = diff.foldLeft(before) { (acc, r) =>
        r.getAs[String]("changeType") match {
          case "delete" => acc - r.getLong(0)
          case _ =>
            val a = r.getAs[org.apache.spark.sql.Row]("after")
            acc + (r.getLong(0) -> ((a.getAs[Long]("value"), a.getAs[Long]("version"))))
        }
      }
      assert(reconstructed == after, s"cut ($v1, $v2)")
      // the diff never mentions an untouched key, and every row's
      // `before` struct IS the v1 state (the reconstruction fold alone
      // cannot see a wrong before — it only consumes `after`)
      diff.foreach { r =>
        val k = r.getLong(0)
        assert(before.get(k) != after.get(k), s"vacuous diff row for key $k at ($v1, $v2)")
        val b = Option(r.getAs[org.apache.spark.sql.Row]("before"))
          .map(x => (x.getAs[Long]("value"), x.getAs[Long]("version")))
        assert(b == before.get(k), s"before struct drift for key $k at ($v1, $v2)")
      }
    }
  }

  test("compactHistory law: snapshots and diffs at-or-above the floor are unchanged; below-floor history purges") {
    val cRnd = new scala.util.Random(13)
    val hist = (1 to 300).map { v =>
      val key = cRnd.nextInt(25).toLong
      val del = cRnd.nextInt(4) == 0
      (key, cRnd.nextInt(1000).toLong, if (del) -v.toLong else v.toLong)
    }.toDF("id", "value", "version")
    val floor = 150L
    val compacted = StateStore.compactHistory(hist, Seq("id"), floor)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "value", "version").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // snapshot fidelity at every cut at-or-above the floor (incl. the
    // floor itself and the history head)
    for (v <- Seq(150L, 151L, 200L, 299L, 300L))
      assert(rows(StateStore.snapshotAsOf(compacted, Seq("id"), v)) ==
        rows(StateStore.snapshotAsOf(hist, Seq("id"), v)), s"asof $v")
    // diff fidelity across above-floor cut pairs
    for ((v1, v2) <- Seq((150L, 300L), (150L, 151L), (200L, 280L))) {
      def d(df: org.apache.spark.sql.DataFrame) =
        StateStore.snapshotDiff(df, Seq("id"), v1, v2)
          .select(col("id"), col("changeType"),
            col("before.version").as("bv"), col("after.version").as("av"))
          .collect().map(r => (r.getLong(0), r.getString(1),
            Option(r.get(2)), Option(r.get(3)))).toSet
      assert(d(compacted) == d(hist), s"diff ($v1, $v2)")
    }
    // the compaction actually compacted: every key with >1 below-floor
    // version lost rows, and no below-floor tombstone survived
    val belowFull = hist.filter(abs(col("version")) <= floor)
    val belowKept = compacted.filter(abs(col("version")) <= floor)
    assert(belowKept.count() < belowFull.count())
    assert(belowKept.filter(col("version") < 0).count() == 0)
    assert(belowKept.groupBy(col("id")).count().filter(col("count") > 1).count() == 0)
    // above-floor rows pass through verbatim
    assert(rows(compacted.filter(abs(col("version")) > floor)) ==
      rows(hist.filter(abs(col("version")) > floor)))
  }

  test("scored placement: quota rejects the third same-rack slot even with a good candidate left") {
    // 5-rack cluster (maxPerRack = (3-1)/5 + 2 = 2); racks 1-4 hold one
    // space-starved node each, rack0 three roomy ones — so the request's
    // good candidates are exactly the rack0 trio: slot 1 writer-local,
    // slot 2 falls back same-rack, slot 3 must be REJECTED by the rack
    // quota while node 12 is still a perfectly good target
    val now = 1700000000000L
    val dn = Seq(
      (10L, "/rack0", 10000L), (11L, "/rack0", 9000L), (12L, "/rack0", 8000L),
      (20L, "/rack1", 10L), (21L, "/rack2", 10L), (22L, "/rack3", 10L),
      (23L, "/rack4", 10L))
      .toDF("id", "location", "remaining")
      .withColumn("xceiverCount", lit(1L))
      .withColumn("adminState", lit("NORMAL"))
      .withColumn("lastUpdated", lit(now))
      .withColumn("version", lit(1L))
    val req = Seq((1L, "/rack0", 1000L)).toDF("reqId", "writerRack", "blockSize")
    val out = Placement.chooseTargetsScored(req, dn, now)
      .orderBy(col("slot")).collect()
      .map(r => (r.getAs[Long]("slot"), r.getAs[Long]("datanodeId"),
        r.getAs[String]("rack")))
    assert(out.length == 2, s"quota must stop at two same-rack replicas, got ${out.toSeq}")
    assert(out.map(_._3).toSet == Set("/rack0"))
    assert(out.map(_._2).toSet.subsetOf(Set(10L, 11L, 12L)))
    // same cluster, small block: racks 1-4 become good, the ladder runs
    // full — slot 2 leaves the writer's rack, slot 3 joins slot 2's rack
    val req2 = Seq((1L, "/rack0", 5L)).toDF("reqId", "writerRack", "blockSize")
    val full = Placement.chooseTargetsScored(req2, dn, now)
      .orderBy(col("slot")).collect()
      .map(r => (r.getAs[Long]("slot"), r.getAs[String]("rack")))
    assert(full.length == 3)
    assert(full(0)._2 == "/rack0" && full(1)._2 != "/rack0")
    // slot 3 prefers slot 2's rack; that rack has ONE node here, so the
    // fallback picks any remaining good node — assert only the ladder's
    // hard guarantees
    assert(full.map(_._2).distinct.length >= 2)
  }

  test("comparator partition laws: LE = LT ∪ EQ; GE/LT partition the table") {
    for (k <- Seq(1L, 57L, 200L, 400L, 999L)) {
      val lt = ids(StateStore.find(tbl, ById, Seq(k), Comparator.LT))
      val eq = ids(StateStore.find(tbl, ById, Seq(k), Comparator.EQ))
      val le = ids(StateStore.find(tbl, ById, Seq(k), Comparator.LE))
      val ge = ids(StateStore.find(tbl, ById, Seq(k), Comparator.GE))
      assert(le == (lt ++ eq))
      assert((lt ++ ge) == ids(tbl) && (lt & ge).isEmpty)
    }
  }

  test("IN equals the union of EQs on a non-unique index") {
    val keys = Seq(3L, 17L, 99L)
    val inSet = ids(StateStore.find(tbl, ByGrp, keys, Comparator.IN))
    val eqUnion = keys.map(k => ids(StateStore.find(tbl, ByGrp, Seq(k), Comparator.EQ)))
      .reduce(_ ++ _)
    assert(inSet == eqUnion)
  }

  test("limit/offset paginate without overlap or loss") {
    val pages = (0 until 5).map(p =>
      StateStore.find(tbl, ById, Seq(0L), Comparator.GT, limit = 100, offset = p * 100))
    val collected = pages.map(ids)
    assert(collected.map(_.size).sum == 400)
    assert(collected.reduce(_ ++ _) == ids(tbl))
    for (Seq(a, b) <- collected.sliding(2)) assert((a & b).isEmpty)
  }

  test("DEQ returns the same rows as EQ, descending") {
    val eq = StateStore.find(tbl, ByGrp, Seq(5L), Comparator.EQ)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val deq = StateStore.find(tbl, ByGrp, Seq(5L), Comparator.DEQ)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(eq.toSet == deq.toSet)
  }

  test("startFile write-set law: applying it preserves (parentId,name) uniqueness") {
    // random request batches over a small namespace, incl. repeated targets
    val file = Seq(
      (0L, -1L, "", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 1L),
      (1L, 0L, "d", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 2L),
      (2L, 1L, "f1", 5L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 3L),
      (3L, 1L, "f2", 5L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 4L),
    ).toDF("id", "parentId", "name", "length", "blockSize", "replication",
      "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")
    val reqRnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val reqs = (1 to 12).map { i =>
        val name = reqRnd.shuffle(Seq("f1", "f2", s"new$i", "d")).head
        (1L, name, s"h$i", reqRnd.nextBoolean())
      }.toDF("parentId", "name", "holder", "overwrite")
      val ws = graft.state.Mutations.startFile(file, reqs,
        idBase = 1000L * trial, nowMs = 9L)
      // widen the (narrow) write-set rows to the full file schema before
      // applying — defaults for the columns startFile doesn't carry
      val fileWs = ws.filter(col("writeOp").isin("insert", "tombstone"))
        .select(col("id"), col("parentId"), col("name"),
          lit(0L).as("length"), lit(0L).as("blockSize"), lit(0L).as("replication"),
          lit(9L).as("atime"), lit(9L).as("mtime"), lit(0L).as("owner"),
          col("leaseHolder"), lit(0L).as("leaseRecoveryTime"), col("version"))
      val applied = graft.state.Mutations.applyWriteSet(
        file, fileWs, Seq("id"))
      val liveNames = applied.filter(col("version") > 0)
        .groupBy(col("parentId"), col("name")).count()
        .filter(col("count") > 1).count()
      assert(liveNames == 0, s"trial $trial produced duplicate live (parentId,name)")
    }
  }

  test("append round-trip law: committed append state gates complete/addBlock") {
    // append f's write-set → commitBatch(file+block) → the file is under
    // construction, its reopened last block blocks BOTH completeFile and
    // the next allocation — the cross-operator invariant the reference
    // keeps via its per-file lock (appendFile → getAdditionalBlock)
    val file = Seq(
      (0L, -1L, "", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 1L),
      (5L, 0L, "f", 200L, 64L, 1L, 0L, 0L, 0L, None: Option[String], 0L, 5L),
    ).toDF("id", "parentId", "name", "length", "blockSize", "replication",
      "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")
    val block = Seq(
      (50L, 1L, 100L, 7L, 5L, 1L, 10L),
      (51L, 1L, 100L, 7L, 5L, 2L, 11L), // last block, finished
    ).toDF("id", "datanodeId", "length", "generationStamp", "fileId", "fileIndex", "version")
    val reqs = Seq((0L, "f", "hA")).toDF("parentId", "name", "holder")
    val ws = graft.state.Mutations.appendFile(file, block, reqs, nowMs = 9L)
    val fileWs = file.join(ws.filter(col("writeOp") === "attach")
        .select(col("id").as("__i"), col("leaseHolder").as("__lh"), col("version").as("__v")),
        col("id") === col("__i"))
      .withColumn("leaseHolder", col("__lh")).withColumn("version", col("__v"))
      .drop("__i", "__lh", "__v")
    val blockWs = block.join(ws.filter(col("writeOp") === "reopen")
        .select(col("id").as("__i"), col("version").as("__v")), col("id") === col("__i"))
      .withColumn("length", lit(-1L)).withColumn("version", col("__v"))
      .drop("__i", "__v")
    val post = graft.state.Mutations.commitBatch(
      Map("file" -> file, "block" -> block),
      Map("file" -> fileWs, "block" -> blockWs),
      Map("file" -> Seq("id"), "block" -> Seq("id")))
    val check = rows(graft.state.Mutations
      .completeFileCheck(post("file"), post("block"))
      .select(col("fileId"), col("canComplete")))
    assert(check == Seq(Seq(5L, false))) // reopened block ⇒ cannot complete
    val alloc = rows(graft.state.Mutations.addBlock(post("file"), post("block"), idBase = 900L)
      .select(col("fileId"), col("canAllocate"), col("newFileIndex")))
    assert(alloc == Seq(Seq(5L, false, 3L))) // last block back under construction
  }

  test("putFile fan-out laws: lengths tile exactly, ids unique, empties blockless") {
    import graft.state.Mutations
    val fileCols = Seq("id", "parentId", "name", "length", "leaseHolder", "version")
    val ns = Seq((0L, -1L, "", -1L, None: Option[String], 1L),
        (1L, 0L, "d", -1L, None: Option[String], 2L))
      .toDF(fileCols: _*)
    val bs = 1000L
    // random request lengths across the interesting boundary cases
    val lens = Seq(0L, 1L, bs - 1, bs, bs + 1, 3 * bs, 3 * bs + 7) ++
      Seq.fill(20)(math.abs(rnd.nextLong()) % (10 * bs))
    val reqs = lens.zipWithIndex
      .map { case (l, i) => (1L, s"f$i", "h", l) }
      .toDF("parentId", "name", "holder", "fileLength")
    val ws = Mutations.putFile(ns, reqs, idBase = 100L, blockIdBase = 1000L,
      blockSize = bs, nowMs = 5L)
    val files = ws.filter(col("writeOp") === "insert").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("length")).toMap
    assert(files.size == lens.size, "every request accepted")
    val blocks = ws.filter(col("writeOp") === "blockInsert").collect()
      .map(r => (r.getAs[Long]("parentId"), r.getAs[Long]("fileIndex"),
        r.getAs[Long]("length"), r.getAs[Long]("id")))
    // law 1: per file, block lengths sum to the file length exactly
    val byFile = blocks.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    files.foreach { case (fid, flen) =>
      assert(byFile.getOrElse(fid, 0L) == flen, s"file $fid tiles to $flen")
    }
    // law 2: every block but the last is FULL; the last is in (0, bs]
    blocks.groupBy(_._1).foreach { case (fid, bl) =>
      val sorted = bl.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, "contiguous indexes")
      assert(sorted.init.forall(_._3 == bs), s"file $fid non-final blocks full")
      assert(sorted.last._3 > 0L && sorted.last._3 <= bs)
    }
    // law 3: zero-length files produce no block rows
    val emptyIds = files.filter(_._2 == 0L).keySet
    assert(emptyIds.nonEmpty && blocks.forall(b => !emptyIds.contains(b._1)))
    // law 4: block ids globally unique and above the base
    val bids = blocks.map(_._4)
    assert(bids.distinct.length == bids.length && bids.forall(_ > 1000L))
    // law 5: duplicate requests collapse to ONE winner — the join back
    // to requests must not multiply the insert row or the fan-out
    val dupReqs = Seq((1L, "dup", "h1", 2500L), (1L, "dup", "h2", 7000L))
      .toDF("parentId", "name", "holder", "fileLength")
    val dupWs = Mutations.putFile(ns, dupReqs, idBase = 500L,
      blockIdBase = 5000L, blockSize = bs, nowMs = 5L).collect()
    val dupIns = dupWs.filter(_.getAs[String]("writeOp") == "insert")
    assert(dupIns.length == 1 && dupIns.head.getAs[Long]("length") == 2500L,
      "h1 wins by holder order; exactly one insert")
    val dupBlks = dupWs.filter(_.getAs[String]("writeOp") == "blockInsert")
    assert(dupBlks.map(_.getAs[Long]("length")).sorted.toSeq == Seq(500L, bs, bs),
      "fan-out from the winner's length only")
    assert(dupWs.count(_.getAs[String]("writeOp") == "reject") == 1)
  }

  test("addBlock law: canAllocate false iff last block under-replicated") {
    val file = Seq(
      (0L, -1L, "", -1L, 0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, 1L),
      (5L, 0L, "u", 0L, 0L, 2L, 0L, 0L, 0L, Some("w"), 0L, 5L),
    ).toDF("id", "parentId", "name", "length", "blockSize", "replication",
      "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")
    val rnd2 = new scala.util.Random(13)
    for (_ <- 1 to 5) {
      val lastLen = if (rnd2.nextBoolean()) 100L else -1L
      val b = Seq((50L, 1L, lastLen, 7L, 5L, 1L, 10L))
        .toDF("id", "datanodeId", "length", "generationStamp", "fileId", "fileIndex", "version")
      val out = rows(graft.state.Mutations.addBlock(file, b, idBase = 900L)
        .select(col("canAllocate"), col("lastFinishedReplicas"), col("newFileIndex")))
      assert(out.head == Seq(lastLen >= 0, if (lastLen >= 0) 1L else 0L, 2L))
    }
  }

  // ---- bounded driver paths == their distributed fallbacks ------------

  private def bag(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
    df.collect().groupBy(_.toString).view.mapValues(_.length).toMap

  test("mkdirs/validateInserts: the bounded batch path equals the distributed one") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.state.Mutations
    // Spark's length counts characters: 255 two- or four-byte characters
    // are a legal name, 256 are not
    val (e255, e256) = ("é" * 255, "é" * 256)
    val (m255, m256) = ("😀" * 255, "😀" * 256)
    val file = Seq(
      (0L, -1L, "", -1L, 1L), // root
      (1L, 0L, "a", -1L, 2L),
      (2L, 0L, e255, -1L, 3L),
      (3L, 1L, "b", -1L, 4L),
      (4L, 1L, "f", 10L, 5L), // a file
      (5L, 1L, "gone", -1L, -6L), // a tombstoned child
      (6L, 3L, m255, -1L, 7L),
    ).toDF("id", "parentId", "name", "length", "version")
      .select(col("id"), col("parentId"), col("name"), col("length"),
        lit(0L).as("blockSize"), lit(0L).as("replication"), lit(0L).as("atime"),
        lit(0L).as("mtime"), lit(0L).as("owner"),
        lit(null).cast("string").as("leaseHolder"),
        lit(0L).as("leaseRecoveryTime"), col("version"))
    // null parent, live dirs, the file, the tombstoned dir, a missing id
    val parents = Gen.oneOf(None, Some(0L), Some(1L), Some(2L), Some(3L),
      Some(4L), Some(5L), Some(99L))
    // null, empty, live and tombstoned names, names at and past 255
    val names = Gen.oneOf(None, Some(""), Some("a"), Some("b"), Some("f"),
      Some("gone"), Some("new"), Some(e255), Some(e256), Some(m255), Some(m256))
    def check(batch: Seq[(Option[Long], Option[String])]): Boolean = {
      val reqs = batch.toDF("parentId", "name")
      bag(Mutations.validateInserts(file, reqs, batchCap = 0)) ==
        bag(Mutations.validateInserts(file, reqs)) &&
        bag(Mutations.mkdirs(file, reqs, idBase = 100L, nowMs = 7L, batchCap = 0)) ==
          bag(Mutations.mkdirs(file, reqs, idBase = 100L, nowMs = 7L))
    }
    // every case at once, each request twice
    val everyCase = (for (p <- Seq(None, Some(0L), Some(1L), Some(3L), Some(4L), Some(99L));
                          n <- Seq(None, Some(""), Some("a"), Some("gone"), Some("new"),
                            Some(e255), Some(e256), Some(m255), Some(m256)))
      yield (p, n)).flatMap(r => Seq(r, r))
    val reasons = Mutations.validateInserts(file, everyCase.toDF("parentId", "name"))
      .select(col("reject")).distinct().collect().map(r => Option(r.getString(0))).toSet
    assert(reasons == Set(None, Some("empty name"), Some("name too long"),
      Some("parent not found"), Some("parent not a directory"), Some("name exists")))
    assert(check(everyCase))
    val params = SCTest.Parameters.default.withMinSuccessfulTests(12)
    val res = SCTest.check(params,
      Prop.forAll(Gen.choose(0, 16).flatMap(Gen.listOfN(_, Gen.zip(parents, names))))(check))
    assert(res.passed, res.status.toString)
  }

  test("liveNodeRacks: the collected dimension equals the windowed one") {
    import graft.state.StateManager
    val now = 1700000000000L
    // U+FF61 sorts before U+1F600 in UTF-8 bytes and after it in UTF-16
    val dn = Seq[(Long, Option[String], Long, Long)](
      (1L, Some("/r1"), now, 1L), (2L, Some("/r1"), now, 2L),
      (3L, None, now, 3L), (4L, Some("/\uFF61"), now, 4L),
      (5L, Some("/😀"), now, 5L), (6L, Some("/é"), now, 6L),
      (7L, Some("/dead"), 0L, 7L), (8L, Some("/gone"), now, -8L))
      .toDF("id", "location", "lastUpdated", "version")
    def dim(cap: Int) = {
      val (nodes, racks) = StateManager.liveNodeRacks(dn, now, cap)
      (bag(nodes), racks)
    }
    val (nodes, racks) = dim(StateManager.LiveNodeCap)
    assert(racks == 4L && nodes.keySet.contains("[3,null,null]") &&
      nodes.keySet.contains("[4,/\uFF61,3]") && nodes.keySet.contains("[5,/😀,4]"))
    assert(dim(0) == ((nodes, racks)))
  }
}
