package graft

import org.apache.spark.sql.functions._

import graft.core.Scale

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    val n = 1000
    Scale.writeBucketed((1 to n).map(i => (i.toLong, s"b$i")).toDF("k", "bv"),
      "graft_bucketed_b", "k", buckets = 4)
    Scale.writeBucketed((1 to n).map(i => (i.toLong, s"a$i")).toDF("k", "av"),
      "graft_bucketed_a", "k", buckets = 4)
    val joined = spark.table("graft_bucketed_a")
      .join(spark.table("graft_bucketed_b"), "k")
    assert(joined.count() == n)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
  }

  test("orderkey-bucketed lineitem+orders: the l-o join and the q18 aggregate plan without a fact shuffle") {
    // the r16 relational layout (Scale.writeRelationalTables): both
    // facts bucketed by their order keys — the one q-family join where
    // neither side ever broadcasts must plan co-located, and the
    // big-orders aggregate must read its grouping distribution straight
    // off the scan
    val li = (1 to 400).map(i => ((i % 80).toLong, i.toLong, i * 1.5))
      .toDF("l_orderkey", "l_linenumber", "l_quantity")
    val ord = (0 until 80).map(i => (i.toLong, s"P$i"))
      .toDF("o_orderkey", "o_orderpriority")
    Scale.writeRelationalTables(li, ord, prefix = "graft_spec_rel",
      buckets = 4)
    // disable auto-broadcast so the SMJ path (the at-scale shape, where
    // neither fact broadcasts) is what the pin inspects
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = spark.table("graft_spec_rel_lineitem")
        .groupBy($"l_orderkey").agg(sum($"l_quantity").as("total_qty"))
      val joined = big.join(spark.table("graft_spec_rel_orders"),
        $"l_orderkey" === $"o_orderkey")
      assert(joined.count() == 80)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed q18 shape must not shuffle either fact:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("term-bucketed posting index: the BM25 serve join re-shuffles only the query melt") {
    // the bm25Index scaladoc's own advice, pinned: bucketing the
    // standing index by term (Scale.writeBucketed on term) drops the
    // index-side exchange from the serve join — per query batch only
    // the batch's melt repartitions on term. Unbucketed, BOTH sides
    // exchange on term (the baseline asserted below), and at corpus
    // scale the index side is the one that hurts.
    import graft.functions.TextFunctions
    val corpus = (1 to 200).map(i =>
        (i.toLong, s"w${i % 17} w${i % 5} w${i % 31} x${i % 7}"))
      .toDF("doc_id", "text")
    val idx = TextFunctions.bm25Index(corpus, "doc_id", "text",
      maxDfPpm = 1000000L)
    Scale.writeBucketed(idx, "graft_spec_bm25_bm25_index", "term", buckets = 4)
    val queries = Seq((1000L, "w3 w7 x2"), (1001L, "w12 w1 x5"))
      .toDF("doc_id", "text")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def termExchanges(index: org.apache.spark.sql.DataFrame): Int = {
        val served = TextFunctions.bm25TopKAgainst(index, queries,
          "doc_id", "text", k = 3)
        assert(served.count() > 0)
        "Exchange hashpartitioning\\(term".r
          .findAllIn(served.queryExecution.executedPlan.toString).size
      }
      assert(termExchanges(spark.table("graft_spec_bm25_bm25_index")) == 1,
        "bucketed: only the query melt exchanges on term")
      // baseline MATERIALIZED too (plain parquet) so both plans contain
      // only the serve join, not the index build's internal term joins
      val flat = graft.core.Caching.scratchDir("bm25-flat").toString
      idx.write.mode("overwrite").parquet(flat)
      assert(termExchanges(spark.read.parquet(flat)) == 2,
        "unbucketed baseline: both serve-join sides exchange on term")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compactHistory pays exactly one hash exchange; bpeEncode pays none") {
    // compactHistory's contract: ONE shuffle — the (key, belowFloor)
    // rank; above-floor rows ride the same exchange unranked
    val hist = (1 to 200).map(v => ((v % 20).toLong, v.toLong,
      if (v % 4 == 0) -v.toLong else v.toLong)).toDF("id", "value", "version")
    val compacted = graft.store.StateStore.compactHistory(hist, Seq("id"), 100L)
    assert(compacted.count() > 0)
    val p1 = compacted.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p1).size == 1,
      s"compactHistory must shuffle exactly once:\n$p1")
    // bpeEncode's contract: pure map work, the corpus never shuffles
    val words = Seq("banana", "bandana").map(w => Tuple1(w.mkString(" ")))
      .toDF("syms")
    val enc = graft.functions.TextFunctions.bpeEncode(words, "syms",
      Seq("a" -> "n", "an" -> "a"))
    assert(enc.count() == 2)
    val p2 = enc.queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange"),
      s"bpeEncode must stay a narrow map stage:\n$p2")
  }

  test("N5 reconciliation over co-bucketed block+reported plans without shuffling either side") {
    val n = 500
    val block = (1 to n).map(i => (i.toLong, (i % 7).toLong, 100L + i,
        (i % 5).toLong, i.toLong))
      .toDF("id", "datanodeId", "length", "generationStamp", "version")
    val reported = (1 to n).filter(_ % 3 != 0).map(i => ((i % 7).toLong,
        i.toLong, 100L + i, (i % 5).toLong))
      .toDF("datanodeId", "blockId", "repLength", "repGenStamp")
    Scale.writeStateTables(
      Seq((0L, -1L, 1L)).toDF("id", "parentId", "version"),
      block, Seq((1L, 1L)).toDF("id", "version"),
      prefix = "scalespec_n5", reported = Some(reported))
    // the two knobs the co-located reconcile needs (documented on
    // writeStateTables): subset-key co-partitioning — the join keys are
    // (datanodeId, blockId) but both buckets hash blockId alone — is
    // OFF by default, and the auto-bucketed-scan heuristic disables the
    // bucketed read once it stops seeing a shuffle to save
    val prevA = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    val prevR = spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try {
      val rec = graft.analytics.Dataflows.reconcileReports(
        spark.table("scalespec_n5_block"), spark.table("scalespec_n5_reported"))
      assert(rec.count() > 0)
      val plan = rec.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed reconcile must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prevA)
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", prevR)
    }
  }

  test("S8 blockEntries over an id-bucketed block table needs no shuffle") {
    // the cluster-scale layout for the block table: bucketed by block id,
    // so the BlockEntry grouping is satisfied by the scan's distribution
    val b = (1 to 300).flatMap(i => (0 until 1 + i % 3).map(r =>
      (i.toLong, r.toLong + 1, 100L, 7L, i.toLong % 50, 1L, i.toLong)))
      .toDF("id", "datanodeId", "length", "generationStamp", "fileId", "fileIndex", "version")
    Scale.writeBucketed(b, "graft_bucketed_blk", "id", buckets = 4)
    val entries = graft.state.StateManager.blockEntries(
      spark.table("graft_bucketed_blk"))
    assert(entries.count() == 300)
    val plan = entries.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed blockEntries should not shuffle:\n$plan")
  }

  test("S1 path walk over a parentId-bucketed file table plans zero hash exchange") {
    // the scale property pinned here: every level of the iterative walk
    // (dirBroadcastLimit = 0 forces it) BROADCASTS the frontier against
    // the file scan, so path resolution never hash-shuffles the namespace
    // table — for any layout; a regression to a shuffle join fails this.
    // The table is written in the parentId-bucketed layout the
    // StateManager scaladoc names for cluster scale, which exercises the
    // bucketed reader through the walk (the no-exchange claim itself
    // does not depend on the bucketing — the broadcast is stronger)
    val f = (0 to 300).map { i =>
      val parent = if (i == 0) 0L else (i - 1) / 3
      (i.toLong, parent, if (i == 0) "" else s"n$i", if (i % 4 == 0) -1L else 10L,
        64L, 1L, 0L, 0L, 0L, None: Option[String], 0L, i.toLong + 1)
    }.toDF("id", "parentId", "name", "length", "blockSize", "replication",
      "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")
    Scale.writeBucketed(f, "graft_bucketed_file", "parentId", buckets = 4)
    val out = graft.state.StateManager.resolvePaths(
      spark.table("graft_bucketed_file"),
      Seq("/n1", "/n1/n4", "/n1/n4/n13").toDF("path"), dirBroadcastLimit = 0L)
    assert(out.collect().length == 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed path walk must not hash-shuffle:\n${plan.take(4000)}")
  }

  test("writeStateTables layout: one path-recursion level exchanges only the frontier") {
    // the persisted cluster layout, written by the ONE-call writer: file
    // bucketed by parentId. A recursion level joins file.parentId against
    // the previous level's ids — with broadcast disabled (forcing the
    // worst case), the file side must ride its bucket distribution into
    // the sort-merge join while ONLY the frontier side exchanges; two
    // hash exchanges would mean the namespace table reshuffles per level.
    val f = (0 to 300).map { i =>
      val parent = if (i == 0) 0L else (i - 1) / 3
      (i.toLong, parent, if (i == 0) "" else s"n$i",
        if (i % 4 == 0) -1L else 10L, i.toLong + 1)
    }.toDF("id", "parentId", "name", "length", "version")
    val names = Scale.writeStateTables(f,
      (1 to 50).map(i => (i.toLong, 1L + i % 3, 5L, 1L))
        .toDF("id", "datanodeId", "fileId", "version"),
      (1 to 3).map(i => (i.toLong, s"/r$i", 1L)).toDF("id", "location", "version"),
      prefix = "graft_layout", buckets = 4)
    val bf = spark.table(names.head)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val frontier = bf.filter(col("parentId") === 0L && col("id") =!= 0L)
        .select(col("id").as("__pid"))
      val nextLevel = bf.join(frontier, col("parentId") === col("__pid"))
      assert(nextLevel.count() > 0)
      val plan = nextLevel.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"expected only the frontier exchange, got $exchanges:\n${plan.take(4000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("writeStateTables layout: S8 grouping runs zero-exchange off the block buckets") {
    // the block table's id-bucketing satisfies the BlockEntry grouping
    // straight off the scan (self-contained: writes its own layout)
    Scale.writeStateTables(
      Seq((0L, 0L, "", -1L, 1L)).toDF("id", "parentId", "name", "length", "version"),
      (1 to 50).map(i => (i.toLong, 1L + i % 3, 5L, 7L, i.toLong % 10, 1L, i.toLong))
        .toDF("id", "datanodeId", "length", "generationStamp", "fileId",
          "fileIndex", "version"),
      (1 to 3).map(i => (i.toLong, s"/r$i", 1L)).toDF("id", "location", "version"),
      prefix = "graft_layout2", buckets = 4)
    val entries = graft.state.StateManager.blockEntries(
      spark.table("graft_layout2_block"))
    assert(entries.count() == 50)
    val plan = entries.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"layout block table must group shuffle-free:\n${plan.take(3000)}")
  }

  test("events bucketed layout: user-keyed window runs exchange-free; the gate shadow engages") {
    // the e-family's layout (Scale.writeEventsTable — user_id buckets):
    // a per-user window over the bucketed table must ride the bucket
    // distribution (no hash exchange before the sort), and the bucketed
    // VERIFY gate's shadow (graft.layout=bucketed + graft_state_events)
    // must actually resolve the events view to the catalog table —
    // otherwise the "e-family gated on the bucketed layout" claim would
    // be hollow (rows are identical either way)
    val ev = (1 to 400).map(i => (i.toLong, (i % 20).toLong,
        i.toLong * 1000, if (i % 2 == 0) "view" else "click", i / 10.0,
        s"""{"k":$i}"""))
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
    Scale.writeEventsTable(ev, prefix = "graft_layout3", buckets = 4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val sess = spark.table("graft_layout3_events")
      .withColumn("prevTs", lag(col("ts"), 1).over(w))
    assert(sess.count() == 400)
    val plan = sess.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"user window must read the bucket distribution:\n${plan.take(3000)}")
    Scale.writeEventsTable(ev) // the gate's default prefix: graft_state
    spark.conf.set("graft.layout", "bucketed")
    try {
      // the r18 provenance guard: register() must REFUSE the shadow when
      // the activation didn't record which sfDir the tables came from
      val unrecorded = intercept[IllegalArgumentException] {
        graft.model.DerivedState.register(spark, "/root/testdata/sf0.001")
      }
      assert(unrecorded.getMessage.contains("written from"),
        s"guard must name the provenance gap: ${unrecorded.getMessage}")
      // ...and when it names a DIFFERENT dir
      spark.conf.set(graft.core.Tables.LayoutDirKey, "/root/testdata/sf0.01")
      intercept[IllegalArgumentException] {
        graft.model.DerivedState.register(spark, "/root/testdata/sf0.001")
      }
      // the activation contract: layout + provenance recorded together
      spark.conf.set(graft.core.Tables.LayoutDirKey, "/root/testdata/sf0.001")
      graft.model.DerivedState.register(spark, "/root/testdata/sf0.001")
      val shadowed = spark.table("events")
      assert(shadowed.count() == 400, "shadow must serve the catalog table")
      assert(shadowed.queryExecution.executedPlan.toString
          .contains("graft_state_events"),
        "the events view must resolve to the bucketed catalog table")
    } finally {
      spark.conf.unset("graft.layout")
      spark.conf.unset(graft.core.Tables.LayoutDirKey)
      // restore the raw parquet views for any later suite
      graft.model.DerivedState.register(spark, "/root/testdata/sf0.001")
    }
  }

  test("activateBucketedLayout: gate entries return the same rows as under views") {
    // one entry per shadow: the state tables (state_checksum, n11_fsck)
    // and the relational Tables.load shadow (q3)
    val sf = "/root/testdata/sf0.001"
    val names = Seq("state_checksum", "n11_fsck", "q3_shipping_priority")
    def run(n: String) = SparkEntry.queries(n)(spark, sf)
    def bag(n: String) = {
      val df = run(n)
      (df.columns.toSeq, rows(df).groupBy(identity).view.mapValues(_.size).toMap)
    }
    val views = names.map(bag)
    try {
      assert(Scale.activateBucketedLayout(spark, sf) > 0.0)
      assert(spark.conf.get(graft.core.Tables.LayoutDirKey) == sf)
      names.zip(views).foreach { case (n, v) =>
        assert(bag(n) == v, s"$n differs between the views and bucketed layouts")
      }
      // the comparison is only meaningful if the shadows were read
      assert(run("state_checksum").queryExecution.executedPlan.toString
        .contains("graft_state_block"))
      assert(run("q3_shipping_priority").queryExecution.executedPlan.toString
        .contains("graft_state_lineitem"))
      // the layout lives under the scratch root, so its shutdown hook
      // removes the tables with the JVM
      val root = graft.core.Caching.scratchRoot.toUri.getPath
      for (t <- Seq("file", "block", "datanode", "events", "lineitem", "orders")) {
        val location = spark.sql(s"DESCRIBE TABLE EXTENDED graft_state_$t")
          .filter(col("col_name") === "Location").head().getString(1)
        assert(new java.net.URI(location).getPath.startsWith(root),
          s"graft_state_$t lies at $location, outside $root")
      }
    } finally {
      spark.conf.unset("graft.layout")
      spark.conf.unset(graft.core.Tables.LayoutDirKey)
      graft.model.DerivedState.register(spark, sf)
    }
  }

  test("N5 genstamp arbiter over an id-bucketed block table aggregates shuffle-free") {
    // same id-bucketed block layout as the S8 case: the per-block
    // max-genstamp arbiter groupBy is satisfied straight off the bucketed
    // scan (partial+final aggregate collapse, no Exchange between them) —
    // at 100 TB the arbiter pass costs a scan, never a table-wide shuffle
    val blk = (1 to 2000).map(i =>
      (i.toLong, 1L + i % 5, 10L, 7L, i.toLong % 200, 1L + i / 200, i.toLong))
      .toDF("id", "datanodeId", "length", "generationStamp", "fileId", "fileIndex", "version")
    val reported = (1 to 500).map(i => (1L + i % 5, i.toLong, 10L, 7L))
      .toDF("datanodeId", "blockId", "repLength", "repGenStamp")
    Scale.writeBucketed(blk, "graft_bucketed_blk5", "id", buckets = 4)
    def exchanges(src: org.apache.spark.sql.DataFrame) = {
      val df = graft.analytics.Dataflows.reconcileReports(src, reported)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val bucketed = exchanges(spark.table("graft_bucketed_blk5"))
    // the arbiter's single-key aggregation exchange is gone entirely...
    assert(!bucketed.contains("Exchange hashpartitioning(blockId"),
      s"arbiter groupBy must read the bucket distribution:\n${bucketed.take(4000)}")
    // ...and strictly fewer hash exchanges than the unbucketed plan
    def count(p: String) = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(count(bucketed) < count(exchanges(blk)))
  }

  test("N6 pruned union reuses the scored subtree's exchanges across all three levels") {
    // the one-action N6 shape is only one-action-cheap if the three
    // per-level branches canonicalize to the SAME scored subtree — a
    // regression in exchange canonicalization (the lshCandidates test
    // guards the same property for the minhash pipeline) would silently
    // run the replica aggregation three times per monitor tick
    val dn = (1 to 4).map(i =>
      (i.toLong, s"dn$i", s"DS-$i", 0L, 0L, 1000L, 0L, 900L, 999999L, 0L, "/r1", "NORMAL", i.toLong))
      .toDF("id", "name", "storageId", "ipcPort", "infoPort", "capacity", "dfsUsed",
        "remaining", "lastUpdated", "xceiverCount", "location", "adminState", "version")
    val files = (1 to 50).map(i => (i.toLong, 100L, 2L + i % 6, 1L))
      .toDF("id", "length", "replication", "version")
    val blocks = (1 to 2000).map(i => (i.toLong, 1L + i % 4, 1L + i % 50, 1L))
      .toDF("id", "datanodeId", "fileId", "version")
    val pruned = graft.analytics.Dataflows.underReplicatedPruned(
      blocks, files, dn, nowMs = 1000000L, k = 20)
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    val reused = "ReusedExchange".r.findAllIn(plan).size
    assert(reused >= 2,
      s"branches 2 and 3 must reuse the scored subtree's exchange, got $reused:\n" +
        plan.linesIterator.take(40).mkString("\n"))
  }

  test("pendingRequeue pushes the work list into the block scan, never a sort-merge") {
    // the timed-out set is work-list-sized by contract: its blockIds
    // push into the block scan as an IN predicate (keyPrune), so the
    // pruned rows are FILTERED AT THE SCAN — no block-table-wide join at
    // all on the id key, and certainly no sort-merge shuffle per tick
    val timedOut = (1 to 20).map(i => (i.toLong * 10, 1L, 0L))
      .toDF("blockId", "inFlight", "since")
    val block = (1 to 5000).map(i =>
      (i.toLong, 1L + i % 4, 100L + i % 50, 1L))
      .toDF("id", "datanodeId", "fileId", "version")
      .withColumn("length", lit(10L)).withColumn("generationStamp", lit(7L))
      .withColumn("fileIndex", lit(0L))
    val file = (100 to 149).map(i => (i.toLong, 3L, 1000L, 1L))
      .toDF("id", "replication", "length", "version")
    val datanode = (1 to 4).map(i => (i.toLong, 999999999L, "NORMAL", i.toLong))
      .toDF("id", "lastUpdated", "adminState", "version")
    val rq = graft.analytics.Replication.pendingRequeue(
      timedOut, block, file, datanode, nowMs = 1000000L)
    rq.collect()
    val plan = rq.queryExecution.executedPlan.toString
    // the id prune is NOT a join anymore — on an in-memory fixture the
    // IN predicate constant-folds straight into the scan (the parquet
    // PushedFilters pin lives in the keyPrune test below); the remaining
    // joins are the broadcast dimension joins only
    assert(!plan.contains("LeftSemi"),
      s"work-list prune must be a pushed filter, not a semi-join:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge anywhere in the requeue:\n${plan.take(3000)}")
  }

  test("bm25PostingsDelta: the replay probe pushes the batch id set into the store scan") {
    import graft.functions.TextFunctions
    val dir = graft.core.Caching.scratchDir("bm25delta").toString
    val base = (1 to 500).map(i => (i.toLong, s"w${i % 40} w${i % 7} common"))
      .toDF("doc_id", "text")
    TextFunctions.bm25Postings(base, "doc_id", "text")
      .repartitionByRange(4, col("did"))
      .write.mode("overwrite").parquet(dir)
    val store = spark.read.parquet(dir)
    // batch = 2 new docs + 1 replay — the delta must carry ONLY the new
    // docs' postings (first-seen-wins), and the store-side probe must be
    // a PUSHED IN predicate over did, never a full-store distinct (the
    // pre-r18 O(store) write path)
    val batch = Seq((501L, "fresh tokens here"), (502L, "more new text"),
      (7L, "REPLAYED must be dropped whole")).toDF("doc_id", "text")
    val delta = TextFunctions.bm25PostingsDelta(store, batch, "doc_id", "text")
    assert(delta.select(col("did")).distinct().collect().map(_.getLong(0))
      .sorted.toSeq == Seq(501L, 502L))
    val plan = delta.queryExecution.executedPlan.toString
    assert(plan.contains("In(did") || plan.contains("in(did"),
      s"the batch id set must push into the store scan:\n${plan.take(3000)}")
    // append = standing ∪ delta, byte-identical to the one-call form
    val app = TextFunctions.bm25PostingsAppend(store, batch, "doc_id", "text")
    assert(app.count() == store.count() + delta.count())
  }

  test("stats store: write/fold/read roundtrip serves == rebuild; folds are per-version idempotent; orphaned stages never read") {
    import graft.core.Scale
    import graft.functions.TextFunctions
    val dir = graft.core.Caching.scratchDir("statsstore").toString
    val base = Seq((1L, "hot alpha beta"), (2L, "hot gamma delta"),
      (3L, "epsilon zeta eta")).toDF("doc_id", "text")
    val standing = TextFunctions.bm25Postings(base, "doc_id", "text")
    Scale.writeStatsStore(dir, TextFunctions.bm25StatsOf(standing))
    assert(Scale.latestStatsVersion(dir) == 0L)
    val batch = Seq((4L, "theta iota alpha"), (5L, "lambda mu nu"))
      .toDF("doc_id", "text")
    val delta = TextFunctions.bm25PostingsDelta(standing, batch,
      "doc_id", "text").localCheckpoint()
    assert(Scale.appendStatsStore(spark, dir, delta))
    assert(Scale.latestStatsVersion(dir) == 1L)
    // replaying the SAME version is a committed no-op: returns false,
    // nothing double-counts (the streaming crash-replay discipline)
    assert(!Scale.appendStatsStore(spark, dir, delta, version = 1L))
    assert(Scale.latestStatsVersion(dir) == 1L)
    val store = standing.unionByName(delta)
    val served = TextFunctions.bm25IndexFromStats(store,
      Scale.readStatsStore(spark, dir))
    val rebuilt = TextFunctions.bm25IndexFrom(store)
    assert(served.exceptAll(rebuilt).count() == 0 &&
      rebuilt.exceptAll(served).count() == 0,
      "persisted maintained stats must serve the rebuilt index exactly")
    // a crash-orphaned stage dir must never read as a committed version
    new java.io.File(dir, ".stage-v000009").mkdirs()
    assert(Scale.latestStatsVersion(dir) == 1L)
    // the doc_len dir holds one did-sorted file per fold — the
    // append-only O(batch) write, never a rewrite
    val dlFiles = Option(new java.io.File(s"$dir/doc_len").listFiles())
      .toSeq.flatten.filter(_.getName.endsWith(".parquet")).map(_.getName)
    assert(dlFiles.sorted == Seq("delta-v000000.parquet", "delta-v000001.parquet"))
  }

  test("keyPrune: bounded lists push an IN filter into the parquet scan; big/null lists semi-join") {
    import graft.core.Scale
    val dir = graft.core.Caching.scratchDir("keyprune").toString
    (1 to 10000).map(i => (i.toLong, i.toLong % 7))
      .toDF("id", "v").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    val keys = Seq(3L, 500L, 9999L).toDF("k")
    val pruned = Scale.keyPrune(t, "id", keys, "k")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 500L, 9999L))
    // the predicate must reach the SCAN (PushedFilters), not a post-scan join
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(id"),
      s"IN must push to parquet:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), s"no join on the small-list path:\n${plan.take(2000)}")
    // over the cap → the broadcast semi-join fallback, same rows
    val bigKeys = (1 to 40).map(_.toLong).toDF("k")
    val fb = Scale.keyPrune(t, "id", bigKeys, "k", maxPushdown = 10)
    assert(fb.count() == 40)
    val fbPlan = fb.queryExecution.executedPlan.toString
    assert(fbPlan.contains("LeftSemi"), s"fallback must semi-join:\n${fbPlan.take(2000)}")
    // a null key routes to the semi-join (null never equi-matches) and
    // an empty list yields no rows — both row-sets match the semi-join's
    val nullKeys = Seq[java.lang.Long](5L, null).toDF("k")
    assert(Scale.keyPrune(t, "id", nullKeys, "k").collect()
      .map(_.getLong(0)).toSeq == Seq(5L))
    assert(Scale.keyPrune(t, "id", Seq.empty[Long].toDF("k"), "k").count() == 0)
    // int keys widen losslessly (cast int->long is exact) — same rows as
    // the long-typed list; string/double keys still fail loudly (a lossy
    // cast could make the IN list and the semi-join fallback disagree)
    val intKeys = Seq(3, 500, 9999).toDF("k")
    assert(Scale.keyPrune(t, "id", intKeys, "k").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(3L, 500L, 9999L))
    intercept[IllegalArgumentException] {
      Scale.keyPrune(t, "id", Seq("3").toDF("k"), "k")
    }
    intercept[IllegalArgumentException] {
      Scale.keyPrune(t, "id", Seq(3.0).toDF("k"), "k")
    }
  }

  test("keyPrune: pushdown and semi-join fallback are row-identical on randomized lists") {
    import graft.core.Scale
    val rnd = new scala.util.Random(14)
    val dir = graft.core.Caching.scratchDir("keyprune-eq").toString
    (1 to 5000).map(i => (i.toLong, rnd.nextInt(40).toLong))
      .toDF("id", "v").write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    // list sizes straddle the cap; values straddle the table's id range
    // (absent keys must prune to nothing in BOTH paths); duplicates in
    // the list must not duplicate rows
    for (n <- Seq(1, 7, 64, 65, 200)) {
      val ks = Seq.fill(n)(rnd.nextLong(6000)).map(k => k -> ())
        .map(_._1)
      val keys = ks.toDF("k")
      val push = Scale.keyPrune(t, "id", keys, "k", maxPushdown = 64)
        .collect().map(_.getLong(0)).sorted.toSeq
      val semi = t.join(broadcast(keys.distinct()), col("id") === col("k"),
        "left_semi").collect().map(_.getLong(0)).sorted.toSeq
      assert(push == semi, s"n=$n: pushdown $push vs semi $semi")
    }
  }

  test("P3 limited update plans as top-n, not a global sort or window") {
    import graft.store.{Comparator, IndexDef, StateStore}
    val t = (1 to 5000).map(i => (i.toLong, i.toLong, 1L)).toDF("id", "v", "version")
    val out = StateStore.updateLimited(t, IndexDef("PRIMARY", Seq("id")),
      Seq(0L), Comparator.GT, Map("v" -> StateStore.Add(100L)), nowMs = 0L, limit = 3)
    assert(out.filter(col("v") === col("id") + 100L).count() == 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"boundary set should plan as top-n:\n$plan")
    assert(!plan.contains("Window"),
      s"no global row_number rank over the full table:\n$plan")
  }

  test("lease-recovery producers build and run with implicit cross joins banned") {
    import graft.state.Mutations
    // plan-string checks would be vacuous here — both producers pin
    // their classification with localCheckpoint, so the joins execute
    // at CONSTRUCTION and the output plan is a scan over an RDD. With
    // crossJoin.enabled=false every implicit cartesian anywhere in the
    // graph (checkpointed sections included) fails analysis instead.
    val prev = spark.conf.get("spark.sql.crossJoin.enabled", "true")
    spark.conf.set("spark.sql.crossJoin.enabled", "false")
    try {
      val files = (1 to 200).map(i => (i.toLong,
        if (i % 4 == 0) Some(s"h${i % 10}") else None, i.toLong))
        .toDF("id", "leaseHolder", "version")
      val blocks = (1 to 200).flatMap(i => (1 to 2).map(r =>
        (i * 10L + r, r.toLong, 100L, 5L, i.toLong, 0L, i * 10L + r)))
        .toDF("id", "datanodeId", "length", "generationStamp", "fileId",
          "fileIndex", "version")
      val dn = Seq((1L, 0L, 1L), (2L, 999999999L, 2L))
        .toDF("id", "lastUpdated", "version")
      val rel = Mutations.releaseLeases(files, blocks, dn,
        Seq("h0", "h2").toDF("holder"), nowMs = 999999999L)
      assert(rel.collect().nonEmpty)
      val reqs = (1 to 50).map(i => (i * 10L + 1, 9L, i % 2 == 0, i % 5 == 0,
        Seq(1L, 2L))).toDF("blockId", "newGenStamp", "closeFile",
        "deleteBlock", "targets")
      val sync = Mutations.commitBlockSync(files, blocks, dn, reqs,
        versionBase = 100000L)
      assert(sync.collect().nonEmpty)
    } finally spark.conf.set("spark.sql.crossJoin.enabled", prev)
  }

  test("mkdirs/startFile id assignment is distributed: no single-partition sort or window") {
    import graft.state.Mutations
    val file = (0 to 50).map(i =>
      (i.toLong, 0L, if (i == 0) "" else s"d$i", -1L,
        0L, 0L, 0L, 0L, 0L, None: Option[String], 0L, i.toLong + 1))
      .toDF("id", "parentId", "name", "length", "blockSize", "replication",
        "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")
    val reqs = (1 to 500).map(i => (1L + i % 50, s"new_$i")).toDF("parentId", "name")
    val mk = Mutations.mkdirs(file, reqs, idBase = 1000L, nowMs = 1L)
    // ids stay the dense (parentId, name) rank the window used to assign
    val inserted = mk.filter(col("writeOp") === "insert")
      .select(col("id"), col("parentId"), col("name")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(inserted.length == 500)
    assert(inserted.map(_._1).toSeq == (1001L to 1500L))
    assert(inserted.map(t => (t._2, t._3)).toSeq ==
      inserted.map(t => (t._2, t._3)).sortBy(identity).toSeq)
    val plan = mk.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"id rank must not be a partition-less window:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"id rank must not collapse the write-set into one task:\n$plan")
    // startFile: same property (its dup-rank window IS partitioned)
    val sreqs = (1 to 200).map(i => (0L, s"sf_$i", s"h${i % 7}", false))
      .toDF("parentId", "name", "holder", "overwrite")
    val sf = Mutations.startFile(file, sreqs, idBase = 2000L, nowMs = 1L)
    assert(sf.filter(col("writeOp") === "insert").count() == 200)
    val splan = sf.queryExecution.executedPlan.toString
    assert(!splan.contains("Exchange SinglePartition"),
      s"startFile ids must not serialize through one task:\n$splan")
  }

  test("N2 append: block table is keyPrune-scanned, no cartesian anywhere") {
    import graft.state.Mutations
    val file = (0 to 200).map(i =>
      (i.toLong, 0L, if (i == 0) "" else s"f$i", if (i == 0) -1L else 10L,
        64L, 1L, 0L, 0L, 0L, None: Option[String], 0L, i.toLong + 1))
      .toDF("id", "parentId", "name", "length", "blockSize", "replication",
        "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")
    val block = (1 to 2000).map(i =>
      (i.toLong, 1L + i % 5, 10L, 7L, i.toLong % 200, 1L + i / 200, i.toLong))
      .toDF("id", "datanodeId", "length", "generationStamp", "fileId", "fileIndex", "version")
    val reqs = Seq((0L, "f3", "h1"), (0L, "f4", "h2")).toDF("parentId", "name", "holder")
    val out = Mutations.appendFile(file, block, reqs, nowMs = 1L)
    assert(out.filter(col("writeOp") === "attach").count() == 2)
    val plan = out.queryExecution.executedPlan.toString
    // the appended fileIds are a keyPrune IN predicate now, not a
    // semi-join — on an in-memory fixture the filter constant-folds into
    // the scan (the parquet PushedFilters pin lives in the keyPrune test)
    assert(!plan.contains("LeftSemi"),
      s"block prune must be a pushed IN filter, not a semi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("balancer movePlan: blocks reach pairs via an equi-join, no cartesian") {
    // the 100 TB shape: the block side is data-scale and must shuffle by
    // holder ONCE into a broadcast equi-join with the (node-bounded) pair
    // schedule — a predicate join of pairs × blocks would plan a
    // BroadcastNestedLoop/Cartesian over every block row
    import graft.analytics.Balancer
    val now = 1700000000000L
    val dn = (1 to 12).map(i => (i.toLong, 10000L, (i * 700).toLong, 9000L,
        now, s"/rack${i % 3}", "NORMAL", i.toLong))
      .toDF("id", "capacity", "dfsUsed", "remaining", "lastUpdated",
        "location", "adminState", "version")
    val blk = (1 to 3000).map(i =>
      (i.toLong, 1L + i % 12, 10L, 7L, i.toLong % 200, 1L, i.toLong))
      .toDF("id", "datanodeId", "length", "generationStamp", "fileId",
        "fileIndex", "version")
    val plan = Balancer.movePlan(Balancer.pairs(dn, now, 10.0), blk, dn, now)
    plan.count() // exercisable end-to-end
    val p = plan.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"pairs must broadcast into the block side:\n$p")
  }

  test("minhash signatures over a doc_id-bucketed corpus need no shuffle") {
    // the 100 TB dedup layout: corpus bucketed by doc id. n-gram
    // formation is map-side (zip_with chain) and Generate preserves the
    // scan's distribution, so the signature groupBy is satisfied straight
    // off the bucketed scan — the whole minhash pipeline runs without a
    // single exchange
    val docs = (1 to 200).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta token$i end"))
      .toDF("doc_id", "text")
    Scale.writeBucketed(docs, "graft_bucketed_docs", "doc_id", buckets = 4)
    val sig = graft.functions.Dedup.minhashSignatures(
      spark.table("graft_bucketed_docs"), "doc_id", "text")
    assert(sig.count() == 200)
    val plan = sig.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed minhash should not shuffle:\n$plan")
  }

  test("t26 scoring melt joins its model dims ONLY by broadcast") {
    // the bigramBackoff scale contract: model dims are vocabulary-
    // bounded and broadcast into the corpus-sized melt — a shuffled
    // join here would re-exchange the whole corpus per scoring pass
    val train = (1 to 200).map(i =>
      (i.toLong, s"w${i % 13} w${(i + 1) % 13} w${(i + 2) % 13} w${i % 7}"))
      .toDF("doc_id", "text")
    val ev = (1 to 50).map(i =>
      (1000L + i, s"w${i % 13} w${(i + 3) % 13} zz$i")).toDF("doc_id", "text")
    val out = graft.functions.TextFunctions.bigramBackoff(
      train, ev, "doc_id", "text")
    assert(out.count() > 0)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"model dims must broadcast into the scoring melt:\n$plan")
  }

  test("t7 packing windows are shard-partitioned, never single-partition") {
    // the packer's cumulative sums must stay shard-local: an empty
    // partitionBy would compile to Exchange SinglePartition and gather
    // the whole corpus through one task — the one plan that cannot
    // survive a 100x scale-up
    val out = SparkEntry.queries("t7_pack_sequences")(
      spark, "/root/testdata/sf0.001")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"shard-local window must not gather to one partition:\n$plan")
    assert(out.count() > 0)
  }

  test("shuffle/mix/CDC windows are shard- or doc-partitioned, never single-partition") {
    // same invariant as the t7 packer: every windowed op added for the
    // training pipeline (t12 shuffle ranks, t13 budget cumsums, d11
    // chunk-id running counts) partitions by shard / (source, shard) /
    // doc — an Exchange SinglePartition would gather the corpus through
    // one task at 100 TB
    for (q <- Seq("t12_shard_shuffle", "t13_budget_mix", "d11_cdc_chunks",
        "t34_curriculum_mix", "t33b_epoch_expand")) {
      val out = SparkEntry.queries(q)(
        spark, "/root/testdata/sf0.001")
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange SinglePartition"),
        s"$q must not gather to one partition:\n${plan.take(2000)}")
      assert(out.count() > 0)
    }
  }

  test("lshCandidates reuses the signature pipeline across all consumers") {
    // the shingle→minhash stage is the expensive pass; the narrow-melt
    // shape must compute it ONCE per action, with the right melt and the
    // two estJaccard join-backs as ReusedExchange nodes. The round-5
    // wide-melt formulation satisfied this but shipped 8× wider pair
    // rows; a future regression that breaks exchange canonicalization
    // would silently recompute the corpus pass up to 4×.
    val docs = (1L to 200L).map(i =>
      (i, s"shared words t${i % 9} u${i % 7} v${i % 5} w${i % 3} x$i y${i % 11} z${i % 13}"))
      .toDF("doc_id", "text")
    val out = graft.functions.Dedup.lshCandidates(docs, "doc_id", "text")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    val reused = "ReusedExchange".r.findAllIn(plan).size
    assert(reused >= 2, s"expected >=2 ReusedExchange in the executed plan, got $reused:\n" +
      plan.linesIterator.take(40).mkString("\n"))
  }

  test("PQ probe over a prebuilt codes table equals the one-shot search") {
    import graft.functions.Vectors
    val emb = (0 until 48).map { i =>
      val v = Array.fill(16)(0.2f * ((i * 5 + 2) % 6)); v(i % 8) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cb = Vectors.pqCodebookTrained(emb, m = 4, dsub = 4, kCode = 3, iters = 2)
    // "store" the index: codes materialized once, probed from the table
    Scale.writeBucketed(Vectors.pqCodes(emb, cb, dsub = 4),
      "graft_pq_codes", "vec_id", buckets = 4)
    val queries = emb.filter(col("vec_id") % 12 === 0)
    val preBuilt = Vectors.pqAdcProbe(spark.table("graft_pq_codes"), cb, queries,
        dsub = 4, k = 3)
      .select("qid", "nid", "rank").collect().map(_.toSeq).toSet
    val oneShot = Vectors.pqAdcSearch(emb, m = 4, dsub = 4, kCode = 3,
        col("vec_id") % 12 === 0, k = 3, iters = 2)
      .select("qid", "nid", "rank").collect().map(_.toSeq).toSet
    assert(preBuilt == oneShot && preBuilt.nonEmpty)
  }

  test("IVF-PQ probe over a prebuilt cellId-bucketed codes table equals one-shot") {
    import graft.functions.Vectors
    val emb = (0 until 48).map { i =>
      val v = Array.fill(16)(0.2f * ((i * 5 + 2) % 6)); v(i % 8) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    // build once: trained coarse cells, residuals, seed residual codebook
    // (donors skip the coarse seeds), codes stored bucketed by cellId —
    // the layout where a probe touches only probed cells' buckets
    val cents = Vectors.kmeansCentroids(emb, 4, 2)
    val resid = Vectors.ivfResiduals(emb, cents)
    val residEmb = resid.select(col("vec_id"), col("embedding"))
    val cb = Vectors.pqCodebook(residEmb, m = 4, dsub = 4, kCode = 3, skip = 4)
    Scale.writeBucketed(
      Vectors.pqCodes(residEmb, cb, dsub = 4)
        .join(resid.select(col("vec_id"), col("cellId")), Seq("vec_id")),
      "graft_ivfpq_codes", "cellId", buckets = 4)
    val queries = emb.filter(col("vec_id") % 12 === 0)
    val preBuilt = Vectors.ivfPqProbe(spark.table("graft_ivfpq_codes"), cb, cents,
        queries, dsub = 4, nProbe = 2, k = 3)
      .select("qid", "nid", "rank").collect().map(_.toSeq).toSet
    val oneShot = Vectors.ivfPqSearch(emb, nCells = 4, nProbe = 2,
        col("vec_id") % 12 === 0, k = 3, m = 4, dsub = 4, kCode = 3, iters = 2)
      .select("qid", "nid", "rank").collect().map(_.toSeq).toSet
    assert(preBuilt == oneShot && preBuilt.nonEmpty)
  }

  test("N11 fsck plan shape: no nested-loop join, no sort-merge, one block scan") {
    // pins the three plan properties that keep the full-Result fsck at
    // baseline (see BASELINE.md round-10 close): the cluster-rack count
    // is a literal (a 1-row BroadcastNestedLoopJoin between the
    // file⋈block join and the per-file agg broke codegen fusion), the
    // file⋈perBlock join hashes instead of sort-merging (no broadcast
    // either — perBlock is block-dimension-sized at 100 TB), and the
    // rack dimension rides the per-block shuffle as INT ordinals, so
    // exactly ONE scan of the block table feeds the whole report.
    val f = Seq(
      (0L, 0L, "", -1L, 0L, 1L), (1L, 0L, "d", -1L, 0L, 2L),
      (2L, 1L, "f", 500L, 2L, 3L), (3L, 1L, "g", 100L, 2L, 4L),
    ).map { case (id, p, n, len, repl, v) =>
      (id, p, n, len, 64L, repl, 0L, 0L, 0L, None: Option[String], 0L, v) }
      .toDF("id", "parentId", "name", "length", "blockSize", "replication",
        "atime", "mtime", "owner", "leaseHolder", "leaseRecoveryTime", "version")
    val b = Seq((90L, 11L, 100L, 1L, 2L, 0L, 20L), (91L, 12L, 100L, 1L, 3L, 0L, 21L))
      .toDF("id", "datanodeId", "length", "generationStamp", "fileId",
        "fileIndex", "version")
    val dn = Seq((11L, "/r0", 1700000000000L, 1L), (12L, "/r1", 1700000000000L, 2L))
      .toDF("id", "location", "lastUpdated", "version")
    val out = graft.analytics.Dataflows.fsck(f, b, dn, 1700000000000L)
    assert(out.count() == 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"cluster-rack count must be a literal, not a 1-row cross join:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"file-perBlock join must hash, not sort:\n${plan.take(3000)}")
    assert(plan.split("LocalTableScan").length - 1 <= 4 &&
      !plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("TFile writer distribution: one range exchange, partition-local sort only") {
    val df = (1 to 5000).map(i => (f"k$i%05d", s"v$i")).toDF("key", "value")
    val plan = graft.sources.Formats.tfileOrdered(df)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Exchange rangepartitioning"),
      s"the writer must range-tile the key space:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"no hash shuffle in the TFile write path:\n$plan")
    // the sort must be partition-local (sorted TFile parts), never a
    // global single-partition sort funneling the corpus
    assert("Sort \\[key[^\\]]*\\], false".r.findFirstIn(plan).isDefined
      && !plan.contains("], true"),
      s"partition-local sort expected:\n$plan")
  }

  test("funnel is ONE user-keyed exchange — no self-joins, no per-step passes") {
    val ev = (1 to 200).map(i =>
      (i.toLong % 20, Seq("signup", "view", "click", "purchase")(i % 4),
        i.toLong * 1000000000L))
      .toDF("user_id", "event_type", "ts")
    val out = graft.functions.Events.funnel(ev,
      Seq("signup", "view", "click", "purchase"))
    out.collect()
    // count only the FINAL adaptive plan — the "Initial Plan" section of
    // the AQE string repeats every node
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"funnel must shuffle once on user_id, got $exchanges:\n" +
        plan.linesIterator.take(30).mkString("\n"))
  }

  test("retention broadcasts the cohort-size dimension for the ratio join") {
    val ev = (1 to 300).map(i =>
      (i.toLong % 30, "view", (i % 7).toLong * 86400000000000L + i))
      .toDF("user_id", "event_type", "ts")
    val out = graft.functions.Events.retention(ev)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "cohortSize must reach the ratio join as a broadcast:\n" +
        plan.linesIterator.take(30).mkString("\n"))
  }

  test("semDedup pair join reuses the celled subtree's exchange") {
    // the cell-assignment pass (centroid broadcast + per-vector window)
    // is the expensive subtree; both sides of the within-cell self-join
    // shuffle it by cellId, so exchange canonicalization must compute it
    // once — a regression would silently run the assignment twice
    val emb = (1L to 120L).map(i =>
      (i, Array.tabulate(8)(d => ((i % 5) + d * 0.1 + (i % 3) * 0.01).toFloat)))
      .toDF("vec_id", "embedding")
    val out = graft.functions.Vectors.semDedup(emb, nCells = 4, iters = 1,
      minCosine = 0.999)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    val reused = "ReusedExchange".r.findAllIn(plan).size
    assert(reused >= 1,
      s"expected the celled subtree reused across the pair self-join, got $reused:\n" +
        plan.linesIterator.take(40).mkString("\n"))
  }

  test("asofJoin plans ONE key exchange and no join operator at all") {
    // the union-tag design: the probe×quote match must come from a
    // per-key window over a single hashpartitioning(user_id) exchange —
    // any Join node (worst: BroadcastNestedLoop on the ≤ range) means
    // the scalable shape regressed
    val quotes = (1L to 50L).map(i => (i % 5, i * 10L, i.toDouble))
      .toDF("user_id", "ts", "quote")
    val probes = (1L to 50L).map(i => (i % 5, i * 7L + 3L, i))
      .toDF("user_id", "ts", "event_id")
    val out = graft.functions.Events.asofJoin(
      probes, quotes, "user_id", "ts", Seq("quote"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"no join operator expected:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"one key exchange expected, got $exchanges:\n$plan")
    assert(out.count() == 50L)
    // nearest evaluates BOTH direction windows — still one exchange
    // (the two sorts share the key partitioning), still no join
    val near = graft.functions.Events.asofJoin(
      probes, quotes, "user_id", "ts", Seq("quote"), direction = "nearest")
    val nplan = near.queryExecution.executedPlan.toString
    assert(!nplan.contains("Join"), s"no join operator expected:\n$nplan")
    assert("Exchange hashpartitioning".r.findAllIn(nplan).size == 1,
      s"nearest must reuse the single key exchange:\n$nplan")
  }

  test("rangeJoin plans an equi-join on (key, bucket), never a nested loop") {
    val iv = (1L to 40L).map(i => (i % 4, i * 100L, i * 100L + 250L, i))
      .toDF("user_id", "s", "e", "iv_id")
    val pts = (1L to 200L).map(i => (i % 4, i * 23L, i))
      .toDF("user_id", "ts", "p_id")
    val out = graft.functions.Events.rangeJoin(
      pts, iv, "user_id", "ts", "s", "e", bucketNs = 200L)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), s"no BNLJ:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    // the exact-predicate filter must ride on an equi-join over the
    // bucket key (broadcast-hash here at test scale; hash/sort-merge at
    // cluster scale — anything but a loop join)
    assert(plan.contains("Join") && plan.contains("__b"),
      s"bucketed equi-join expected:\n$plan")
    out.count()
  }

  test("exact percentiles partition by the group key, never a single partition") {
    // the t18 shape: rank windows MUST ride hashpartitioning(lang) —
    // an Exchange SinglePartition would mean a global sort of the corpus
    val df = (1L to 2000L).map(i => (s"lang${i % 5}", i % 997L))
      .toDF("lang", "n_chars")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_chars"))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    val out = df.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("lang"))
      .agg(min(when(col("rn") >= ceil(col("n") * 0.5), col("n_chars"))).as("p50"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"no single-partition exchange:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(lang"),
      s"group-keyed exchange expected:\n$plan")
    assert(out.count() == 5L)
  }

  test("zorderLayout plans ONE range exchange, no global sort") {
    val df = (1L to 500L).map(i => (i, i % 37L, i % 11L))
      .toDF("event_id", "user_id", "day")
    val out = graft.functions.Shuffles.zorderLayout(df, "user_id", "day", 8)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange rangepartitioning"),
      s"range exchange expected:\n$plan")
    // layout ≠ ordering: no Sort operator outside the range sampler.
    // (The min/max normalization agg contributes a SCALAR
    // single-partition exchange over per-partition partials — constant
    // size, not a data shuffle.)
    assert(!plan.contains("Sort ["), s"no global sort expected:\n$plan")
    assert("Exchange rangepartitioning".r.findAllIn(plan).size == 1)
    assert(out.count() == 500L)
    // the stretch normalization: both 37- and 11-value dims must reach
    // the TOP of the 16-bit scale so their variation sits in zval's
    // high bits (raw interleave left narrow dims unprunable)
    val z = out.agg(max(col("zval"))).head().getLong(0)
    assert(z > (1L << 30), s"zval range not stretched: max=$z")
  }

  test("nbScoreAgainst broadcasts the model: one doc-keyed exchange, no SMJ") {
    // the t28/t30 scoring pass: the constant-size hashed-feature model
    // must reach the corpus melt as a broadcast-hash join — a sort-merge
    // join would co-shuffle the corpus against a ≤4096-row dim — and the
    // only data exchange is the final doc-keyed aggregate (the totals
    // agg is a constant-size scalar, not a data shuffle)
    val pos = Seq((1L, "good great good")).toDF("doc_id", "text")
    val neg = Seq((2L, "bad awful bad")).toDF("doc_id", "text")
    val docs = (1L to 200L).map(i => (i, s"good bad w$i")).toDF("doc_id", "text")
    val model = graft.functions.TextFunctions.nbTrain(pos, neg,
      "doc_id", "text").localCheckpoint()
    val out = graft.functions.TextFunctions.nbScoreAgainst(model, docs,
      "doc_id", "text")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"model must broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"broadcast probe expected:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"one doc-keyed exchange expected, got $exchanges:\n$plan")
    assert(out.count() == 200L)
  }

  test("repetitionSignals: every window rides a doc-keyed partition, no loop join") {
    // the t29 contract: per-doc bounded state means NO single-partition
    // window/exchange anywhere (a global window would serialize the
    // corpus) and no nested-loop join from the final dimension assembly
    val pages = (1L to 100L).map(i =>
      (i, s"alpha beta gamma w$i x$i y$i z$i\nalpha beta gamma"))
      .toDF("doc_id", "page")
    val out = graft.functions.TextFunctions.repetitionSignals(
      pages, "doc_id", "page")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"no single-partition exchange:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"), s"no loop join:\n$plan")
    assert(out.count() == 100L)
  }

  test("packing family plans one narrow hash exchange, no global sort or single partition") {
    val docs = (1L to 500L).map(i => (i, (i * 7) % 50 + 1)).toDF("doc_id", "tok")
    val shaped = Seq(
      "balancedPack" -> graft.functions.Shuffles
        .balancedPack(docs, "doc_id", "tok", nShards = 8, nBins = 4),
      "contextPack" -> graft.functions.Shuffles
        .contextPack(docs, "doc_id", "tok", ctxLen = 64L, nShards = 8))
    for ((name, df) <- shaped) {
      assert(df.count() == 500)
      val p = df.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$name must pay exactly the one shard exchange:\n$p")
      assert(!p.contains("rangepartitioning") && !p.contains("SinglePartition"),
        s"$name must never global-sort or single-partition:\n$p")
    }
  }

  test("span decontamination probes the eval index by broadcast semi-join only") {
    val evalDocs = Seq((100L, (1 to 12).map(i => s"s$i").mkString(" ")))
      .toDF("doc_id", "text")
    val train = (1L to 50L).map(i => (i,
      (1 to 30).map(j => s"w${i}_$j").mkString(" "))).toDF("doc_id", "text")
      .union(Seq((99L, (1 to 12).map(i => s"s$i").mkString(" ")))
        .toDF("doc_id", "text"))
    val out = graft.functions.Dedup.decontaminateSpans(
      train, evalDocs, "doc_id", "text")
    assert(out.count() == 51)
    val p = out.queryExecution.executedPlan.toString
    // the gram probe is map-side: a broadcast LeftSemi, never a shuffled
    // one (a SortMergeJoin LeftSemi would shuffle the full gram melt on
    // gram hash — the corpus × eval shape the design forbids)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"probe must be a broadcast semi:\n$p")
    assert(!"SortMergeJoin.*LeftSemi".r.findFirstIn(p).isDefined &&
      !p.contains("CartesianProduct"),
      s"no shuffled semi or cartesian:\n$p")
  }
}
