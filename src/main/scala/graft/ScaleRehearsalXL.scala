package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The 100×-class rehearsal main (local iteration; not part of the
  * driver contract): re-keys the sf0.1 state tables into `copies`
  * disjoint namespace shards — DEFAULT 140, which puts the live dir
  * count (15,026/copy) past the 2M-row driver dir-map limit, so the
  * recursion operators' AUTOMATIC iterative fallback runs at its
  * design point (not forced by a knob, as the 10× rehearsal did) —
  * and exercises the block-table shapes at ~168M rows: N5 report
  * reconciliation, S8 BlockEntry grouping, and the pending-requeue
  * monitor tick whose cost must track its work list, not the table.
  *
  * Amplification is two-stage so no plan carries 140 branches of a
  * derived view: stage 1 writes an `inner`× (14) scratch from the
  * state VIEWS, stage 2 unions `outer` (10) offset copies of that
  * PARQUET. Usage — 64g heap, NOT more: a 96g heap on the 128g box
  * starves the OS page cache the 168M-row parquet scans live on
  * (measured 2-6× slower across the board in r15):
  *   SPARK_DRIVER_MEM=64g sbt "runMain graft.ScaleRehearsalXL [sfDir] [copies]"
  */
object ScaleRehearsalXL {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(140)
    RehearsalUtil.enforceHeapRule(copies.toDouble)
    val inner = 14
    require(copies % inner == 0, s"copies must be a multiple of $inner")
    val outer = copies / inner
    val spark = graft.core.Sessions.local()
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    graft.model.DerivedState.register(spark, sfDir)
    val now = graft.model.DerivedState.NowMs
    val scratch = graft.core.Caching.scratchDir("rehearsal_xl").toString
    val Off = 1000000000L

    // MIN-of-reps protocol (RehearsalUtil): the 140× full-table-scan
    // lines are the most IO-window-sensitive in the repo, so the XL
    // default is 2 reps per recorded line (n5 keeps its own 3-rep knob
    // below); SPARK_GRAFT_REHEARSAL_REPS overrides.
    val xlReps = RehearsalUtil.reps(default = 2)
    def time(name: String)(f: => Long): Double =
      RehearsalUtil.timeReps(spark, "rehearsal-xl", name, xlReps)(f)
    def timeOnce(name: String)(f: => Long): Double =
      RehearsalUtil.timeReps(spark, "rehearsal-xl", name, 1)(f)

    // ---- stage 1: inner× from the views (the ScaleRehearsal shard) ----
    def shift(c: String, k: Long) =
      when(col(c) > 0, col(c) + lit(k * Off)).otherwise(col(c))
    val fileInner = (0 until inner).map { k =>
      spark.table("file")
        .filter(col("id") =!= 0L || lit(k == 0)) // ONE root row total
        .withColumn("id", shift("id", k))
        .withColumn("parentId", shift("parentId", k))
        .withColumn("name",
          when(col("parentId") === 0L && col("id") =!= 0L,
            concat(col("name"), lit(s"_$k"))).otherwise(col("name")))
    }.reduce(_ unionByName _)
    val blockInner = (0 until inner).map { k =>
      spark.table("block")
        .withColumn("id", shift("id", k))
        .withColumn("fileId", shift("fileId", k))
    }.reduce(_ unionByName _)
    val repInner = (0 until inner).map { k =>
      spark.table("reported").withColumn("blockId", shift("blockId", k))
    }.reduce(_ unionByName _)
    val tInner = timeOnce(s"stage1 write ${inner}x from views") {
      fileInner.write.mode("overwrite").parquet(s"$scratch/file_i")
      blockInner.write.mode("overwrite").parquet(s"$scratch/block_i")
      repInner.write.mode("overwrite").parquet(s"$scratch/rep_i")
      spark.read.parquet(s"$scratch/block_i").count()
    }

    // ---- stage 2: outer× from the stage-1 parquet ----------------------
    val jOff = inner.toLong * Off
    val fileXL = (0 until outer).map { j =>
      spark.read.parquet(s"$scratch/file_i")
        .filter(col("id") =!= 0L || lit(j == 0))
        .withColumn("id", shift("id", j * inner.toLong))
        .withColumn("parentId", shift("parentId", j * inner.toLong))
        .withColumn("name",
          when(col("parentId") === 0L && col("id") =!= 0L,
            concat(col("name"), lit(s"_o$j"))).otherwise(col("name")))
    }.reduce(_ unionByName _)
    val blockXL = (0 until outer).map { j =>
      spark.read.parquet(s"$scratch/block_i")
        .withColumn("id", shift("id", j * inner.toLong))
        .withColumn("fileId", shift("fileId", j * inner.toLong))
    }.reduce(_ unionByName _)
    val repXL = (0 until outer).map { j =>
      spark.read.parquet(s"$scratch/rep_i")
        .withColumn("blockId", shift("blockId", j * inner.toLong))
    }.reduce(_ unionByName _)
    val tBuild = timeOnce(s"stage2 write ${copies}x tables") {
      fileXL.write.mode("overwrite").parquet(s"$scratch/file")
      blockXL.write.mode("overwrite").parquet(s"$scratch/block")
      repXL.write.mode("overwrite").parquet(s"$scratch/rep")
      spark.read.parquet(s"$scratch/block").count()
    }
    val f = spark.read.parquet(s"$scratch/file")
    val b = spark.read.parquet(s"$scratch/block")
    val rep = spark.read.parquet(s"$scratch/rep")
    val dn = spark.table("datanode")
    val nDirs = f.filter(col("version") > 0 && col("length") === -1L).count()
    println(s"[rehearsal-xl] live dirs: $nDirs (driver map limit 2000000; " +
      s"over-limit=${nDirs > 2000000L} → the DEFAULT path must fall back)")

    import graft.state.StateManager
    import graft.analytics.{Dataflows, Replication}

    // ---- the AUTOMATIC fallback at its design point --------------------
    // default dirBroadcastLimit: collectDirChildren sees > 2M dirs and
    // refuses, so materializePaths/resolvePaths/contentSummary take their
    // iterative join loops WITHOUT being forced. Row-identity is checked
    // against the forced-iterative run (same loop — this pins that the
    // auto path really did fall back AND stayed deterministic) plus an
    // arithmetic expectation from the 1× table.
    var autoPaths: DataFrame = null
    val tPathsAuto = time("materializePaths DEFAULT (auto-fallback)") {
      autoPaths = StateManager.materializePaths(f).localCheckpoint()
      autoPaths.count()
    }
    var forcedPaths: DataFrame = null
    val tPathsForced = time("materializePaths forced-iterative") {
      forcedPaths = StateManager.materializePaths(f, dirBroadcastLimit = 0L)
        .localCheckpoint()
      forcedPaths.count()
    }
    val pathsDiff = autoPaths.exceptAll(forcedPaths).count() +
      forcedPaths.exceptAll(autoPaths).count()
    val oneCopy = spark.table("file").filter(col("version") > 0).count()
    val expectPaths = copies * (oneCopy - 1) + 1 // one shared root row
    val nAuto = autoPaths.count()
    println(s"[rehearsal-xl] paths auto==forced: ${pathsDiff == 0}; " +
      s"count $nAuto vs expected $expectPaths: ${nAuto == expectPaths}")

    val probes = autoPaths.filter(col("id") % 5000 === 3L)
      .select(col("path")).limit(200).localCheckpoint()
    val nProbes = probes.count()
    var autoRes: DataFrame = null
    val tResAuto = time(s"resolvePaths DEFAULT ($nProbes probes)") {
      autoRes = StateManager.resolvePaths(f, probes).localCheckpoint()
      autoRes.count()
    }
    var forcedRes: DataFrame = null
    val tResForced = time("resolvePaths forced-iterative") {
      forcedRes = StateManager.resolvePaths(f, probes, dirBroadcastLimit = 0L)
        .localCheckpoint()
      forcedRes.count()
    }
    val resDiff = autoRes.exceptAll(forcedRes).count() +
      forcedRes.exceptAll(autoRes).count()
    println(s"[rehearsal-xl] resolvePaths auto==forced: ${resDiff == 0}")

    // content summary over a SAMPLE of shard roots (every root would be
    // a copies× blowup of the 1× work by construction; the design-point
    // question is the fallback machinery, answered above — this pins the
    // quota walk runs on the fallback too)
    val roots = f.filter(col("parentId") === 0L && col("id") =!= 0L &&
        col("version") > 0)
      .select(col("id")).limit(20).collect().map(_.getLong(0)).sorted.toSeq
    var autoCs: DataFrame = null
    val tCsAuto = time(s"contentSummary DEFAULT (${roots.size} roots)") {
      autoCs = Dataflows.contentSummary(f, roots).localCheckpoint()
      autoCs.count()
    }
    var forcedCs: DataFrame = null
    val tCsForced = time("contentSummary forced-iterative") {
      forcedCs = Dataflows.contentSummary(f, roots, dirBroadcastLimit = 0L)
        .localCheckpoint()
      forcedCs.count()
    }
    val csDiff = autoCs.exceptAll(forcedCs).count() +
      forcedCs.exceptAll(autoCs).count()
    println(s"[rehearsal-xl] contentSummary auto==forced: ${csDiff == 0}")

    // ---- block-table shapes at ~${copies}×1.2M rows ---------------------
    // n5 runs SPARK_GRAFT_XL_N5_REPS times (default 3) with the OS
    // 1-minute load average sampled around the reps — the idle-box
    // adjudication protocol (BASELINE.md round-13 n11 precedent): a
    // reading that doubles on untouched code is either the shared box's
    // IO window or a plan drift, and only a multi-rep spread with the
    // load recorded can say which. The reported tN5 is the MIN of the
    // reps (the one number box load can only inflate).
    val n5Reps = sys.env.getOrElse("SPARK_GRAFT_XL_N5_REPS", "3").toInt.max(1)
    val tN5 = RehearsalUtil.timeReps(spark, "rehearsal-xl",
      "n5 reconcileReports", n5Reps) {
      Dataflows.reconcileReports(b, rep)
        .groupBy(col("action")).agg(count(lit(1))).count()
    }
    val tS8 = time("s8 blockEntries") {
      StateManager.blockEntries(b).count()
    }
    // monitor tick: the work list stays 1×-sized while the table is
    // copies× — tick cost must track the LIST
    val timedOut = b.filter(col("version") > 0 && col("id") % (997L * copies) === 0L)
      .select(col("id").as("blockId"), lit(1L).as("inFlight"),
        lit(now - 600000L).as("since"))
      .distinct().localCheckpoint()
    val tRequeue = time(s"pendingRequeue (${timedOut.count()} timed out)") {
      Replication.pendingRequeue(timedOut, b, f, dn, now).count()
    }
    // corrupt sweep: a 1×-sized standing marks map vs the copies× table
    // — the keyPrune'd marked-block scan must track the MARK LIST (one
    // marked holder per block; marking every replica would put every
    // sampled block on the all-corrupt serve-anyway branch)
    val marks = b.filter(col("version") > 0 && col("id") % (1009L * copies) === 0L)
      .groupBy(col("id").as("blockId"))
      .agg(min(col("datanodeId")).as("datanodeId"))
      .localCheckpoint()
    val tCorrupt = time(s"corruptInvalidations (${marks.count()} marks)") {
      Replication.corruptInvalidations(marks, b, f, dn, now).count()
    }
    // blockReceived: a receipt-batch-sized per-op flow vs the copies×
    // table — BOTH keyPrune'd scans (op blocks, owner-file last index)
    // must track the BATCH, never the table
    val ops = b.filter(col("version") > 0 && col("id") % (997L * copies) === 1L)
      .select(col("datanodeId"), col("id").as("blockId"),
        col("length").as("repLength"),
        col("generationStamp").as("repGenStamp"),
        lit(null).cast("long").as("delHint"))
      .distinct().localCheckpoint()
    val tReceived = time(s"blockReceived (${ops.count()} receipts)") {
      Replication.blockReceived(b, f, dn, ops).count()
    }

    // ---- mixing/admission family at copies× (r14 verdict ask): the
    // block table reshaped as a ~168M-doc corpus (unique doc id per
    // replica row, 16 sources, ~1-50-token docs) — the source-bounded
    // totals collect must stay a 16-row collect and every (source,
    // shard) admission window must stay corpus/(16·64)-bounded whatever
    // the corpus; epochExpand then materializes ~2.5× the rows through
    // one explode + the (epoch, eshard) rank windows
    import graft.functions.Shuffles
    val docsXL = b.filter(col("version") > 0)
      .select((col("id") * 41L + col("datanodeId")).as("doc_id"),
        concat(lit("s"), (col("id") % 16).cast("string")).as("src"),
        // integer div: `/` on a Long column is DOUBLE division in Spark
        // and a double tok breaks the Long totals collect downstream
        greatest(expr("`length` div 1000"), lit(1L)).as("tok"))
    val tT32bXL = time("t32b temperatureMixAlpha (a=3/10)") {
      Shuffles.temperatureMixAlpha(docsXL, "doc_id", "src", "tok",
        totalBudget = 2000000000L, nShards = 64, p = 3, q = 10)
        .filter(col("keep")).count()
    }
    val totalsXL = docsXL.groupBy(col("src")).agg(sum(col("tok")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val budgetsXL = totalsXL.map { case (g, n) => g -> (5L * n / 2L + 1000L) }
    val tT33XL = time("t33 epochMix (~2.5 epochs)") {
      Shuffles.epochMix(docsXL, "doc_id", "src", "tok", budgetsXL,
        nShards = 64).filter(col("keep")).count()
    }
    val tT33bXL = time("t33b epochExpand (~2.5x rows out)") {
      Shuffles.epochExpand(
        Shuffles.epochMix(docsXL, "doc_id", "src", "tok", budgetsXL,
          nShards = 64), "doc_id", nShards = 64).count()
    }

    // packing family at copies×: both are the one-narrow-shuffle +
    // shard-local-window shape — wall time must track the corpus melt
    // (one pass), and the balance bound must hold at 168M docs
    val tT36XL = time("t36 balancedPack (64 shards x 8 bins)") {
      val byBin = Shuffles.balancedPack(docsXL, "doc_id", "tok",
          nShards = 64, nBins = 8)
        .groupBy(col("shard"), col("bin")).agg(sum(col("tok")).as("binTokens"))
      val skew = byBin.groupBy(col("shard"))
        .agg(expr("(max(binTokens) - min(binTokens)) * 1000000 div sum(binTokens)")
          .as("ppm"))
        .agg(max(col("ppm"))).head().getLong(0)
      println(s"[rehearsal-xl]   t36: worstShardSkewPpm=$skew")
      byBin.count()
    }
    val tT37XL = time("t37 contextPack (ctx=2048)") {
      val packed = Shuffles.contextPack(docsXL, "doc_id", "tok",
        ctxLen = 2048L, nShards = 64)
      val agg = packed.agg(count(lit(1)), sum(col("nCtx")),
        sum(when(col("endCtx") > col("startCtx"), 1L).otherwise(0L))).head()
      println(s"[rehearsal-xl]   t37: docCtxRows=${agg.getLong(1)} " +
        s"boundaryDocs=${agg.getLong(2)}")
      agg.getLong(0)
    }

    val identical = pathsDiff + resDiff + csDiff == 0 && nAuto == expectPaths
    val r = Seq("stage1" -> tInner, "build" -> tBuild,
      "paths_auto" -> tPathsAuto, "paths_forced" -> tPathsForced,
      "resolve_auto" -> tResAuto, "resolve_forced" -> tResForced,
      "cs_auto" -> tCsAuto, "cs_forced" -> tCsForced,
      "n5" -> tN5, "s8" -> tS8, "requeue" -> tRequeue,
      "corrupt" -> tCorrupt, "received" -> tReceived,
      "t32b" -> tT32bXL, "t33" -> tT33XL, "t33b" -> tT33bXL,
      "t36" -> tT36XL, "t37" -> tT37XL)
    RehearsalUtil.checkBands(s"xl$copies", r)
    println(r.map { case (k, v) => s""""$k":$v""" }
      .mkString(s"""{"metric":"rehearsal_xl","copies":$copies,"dirs":$nDirs,""" +
        s""""autoFellBack":${nDirs > 2000000L},"identical":$identical,"sf":"$sfDir",""",
        ",", "}"))
    spark.stop()
  }
}
