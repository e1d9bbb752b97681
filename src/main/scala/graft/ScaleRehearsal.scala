package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-of-magnitude rehearsal main (local iteration; not part of the
  * driver contract): re-keys the sf0.1 state tables into N disjoint
  * namespace shards (~12M block rows at N=10) and rehearses the paths
  * that argue their 100 TB posture from plans — the three recursion
  * fallbacks (forced with dirBroadcastLimit = 0, checked row-identical
  * against the fast path), the N5 report reconciliation, the
  * monitor-tick operators (pending requeue, corrupt sweep) whose cost
  * must stay work-list-bounded, and the d2 MinHash-LSH pipeline on a
  * 10× near-dup-heavy corpus. Usage:
  * runMain graft.ScaleRehearsal [sfDir] [copies]
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    RehearsalUtil.enforceHeapRule(copies.toDouble)
    val spark = graft.core.Sessions.local()
    graft.model.DerivedState.register(spark, sfDir)
    val now = graft.model.DerivedState.NowMs
    val scratch = graft.core.Caching.scratchDir("rehearsal").toString
    val Off = 1000000000L

    // MIN-of-reps protocol (RehearsalUtil): default single-rep for this
    // cheap 10× sweep; SPARK_GRAFT_REHEARSAL_REPS=N re-pins with spreads
    val reps = RehearsalUtil.reps(default = 1)
    def time(name: String)(f: => Long): Double =
      RehearsalUtil.timeReps(spark, "rehearsal", name, reps)(f)

    // ---- build the N-shard copy (written once; queries read parquet) --
    def shift(c: String, k: Int) =
      when(col(c) > 0, col(c) + lit(k * Off)).otherwise(col(c))
    val file10 = (0 until copies).map { k =>
      spark.table("file")
        .filter(col("id") =!= 0L || lit(k == 0)) // ONE root row total
        .withColumn("id", shift("id", k))
        .withColumn("parentId", shift("parentId", k))
        // root-level names must stay unique across shards — the path
        // walk joins on (parentId, name)
        .withColumn("name",
          when(col("parentId") === 0L && col("id") =!= 0L,
            concat(col("name"), lit(s"_$k"))).otherwise(col("name")))
    }.reduce(_ unionByName _)
    val block10 = (0 until copies).map { k =>
      spark.table("block")
        .withColumn("id", shift("id", k))
        .withColumn("fileId", shift("fileId", k))
    }.reduce(_ unionByName _)
    val reported10 = (0 until copies).map { k =>
      spark.table("reported").withColumn("blockId", shift("blockId", k))
    }.reduce(_ unionByName _)
    val docs10 = (0 until copies).map { k =>
      graft.core.Tables.documents(spark, sfDir)
        .withColumn("doc_id", col("doc_id") + lit(k * Off))
        // perturb per shard: near-dups across shards, not byte-dups
        .withColumn("text", concat(col("text"), lit(s" shard$k")))
    }.reduce(_ unionByName _)
    val tBuild = time(s"build+write ${copies}x tables") {
      file10.write.mode("overwrite").parquet(s"$scratch/file")
      block10.write.mode("overwrite").parquet(s"$scratch/block")
      reported10.write.mode("overwrite").parquet(s"$scratch/reported")
      docs10.write.mode("overwrite").parquet(s"$scratch/docs")
      spark.read.parquet(s"$scratch/block").count()
    }
    val f = spark.read.parquet(s"$scratch/file")
    val b = spark.read.parquet(s"$scratch/block")
    val rep = spark.read.parquet(s"$scratch/reported")
    val d = spark.read.parquet(s"$scratch/docs")
    val dn = spark.table("datanode")

    import graft.state.StateManager
    import graft.analytics.{Dataflows, Replication}

    // ---- recursion fallbacks: fast path vs forced-iterative, -----------
    // row-identical and both within working memory
    var fastPaths: DataFrame = null
    val tPathsFast = time("materializePaths fast") {
      fastPaths = StateManager.materializePaths(f).localCheckpoint()
      fastPaths.count()
    }
    var iterPaths: DataFrame = null
    val tPathsIter = time("materializePaths iterative") {
      iterPaths = StateManager.materializePaths(f, dirBroadcastLimit = 0L)
        .localCheckpoint()
      iterPaths.count()
    }
    val pathsDiff = fastPaths.exceptAll(iterPaths).count() +
      iterPaths.exceptAll(fastPaths).count()
    println(s"[rehearsal] materializePaths row-identical: ${pathsDiff == 0}")

    val probes = fastPaths.filter(col("id") % 5000 === 3L)
      .select(col("path")).limit(200).localCheckpoint()
    val nProbes = probes.count()
    var fastRes: DataFrame = null
    val tResFast = time(s"resolvePaths fast ($nProbes probes)") {
      fastRes = StateManager.resolvePaths(f, probes).localCheckpoint()
      fastRes.count()
    }
    var iterRes: DataFrame = null
    val tResIter = time("resolvePaths iterative") {
      iterRes = StateManager.resolvePaths(f, probes, dirBroadcastLimit = 0L)
        .localCheckpoint()
      iterRes.count()
    }
    val resDiff = fastRes.exceptAll(iterRes).count() +
      iterRes.exceptAll(fastRes).count()
    println(s"[rehearsal] resolvePaths row-identical: ${resDiff == 0}")

    val roots = f.filter(col("parentId") === 0L && col("id") =!= 0L &&
        col("version") > 0)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    var fastCs: DataFrame = null
    val tCsFast = time(s"contentSummary fast (${roots.size} roots)") {
      fastCs = Dataflows.contentSummary(f, roots).localCheckpoint()
      fastCs.count()
    }
    var iterCs: DataFrame = null
    val tCsIter = time("contentSummary iterative") {
      iterCs = Dataflows.contentSummary(f, roots, dirBroadcastLimit = 0L)
        .localCheckpoint()
      iterCs.count()
    }
    val csDiff = fastCs.exceptAll(iterCs).count() +
      iterCs.exceptAll(fastCs).count()
    println(s"[rehearsal] contentSummary row-identical: ${csDiff == 0}")

    // ---- N5 reconciliation at 10x -------------------------------------
    val tN5 = time("n5 reconcileReports") {
      Dataflows.reconcileReports(b, rep)
        .groupBy(col("action")).agg(count(lit(1))).count()
    }

    // ---- monitor-tick operators: cost must track the WORK LIST --------
    val timedOut = b.filter(col("version") > 0 && col("id") % 997 === 0L)
      .select(col("id").as("blockId"), lit(1L).as("inFlight"),
        lit(now - 600000L).as("since"))
      .distinct().localCheckpoint()
    val tRequeue = time(s"pendingRequeue (${timedOut.count()} timed out)") {
      Replication.pendingRequeue(timedOut, b, f, dn, now).count()
    }
    // ONE marked holder per block — marking every replica would put all
    // sampled blocks on the all-corrupt serve-anyway branch and the
    // sweep would (correctly) emit zero invalidations
    val marks = b.filter(col("version") > 0 && col("id") % 1009 === 0L)
      .groupBy(col("id").as("blockId"))
      .agg(min(col("datanodeId")).as("datanodeId"))
      .localCheckpoint()
    val tCorrupt = time(s"corruptInvalidations (${marks.count()} marks)") {
      Replication.corruptInvalidations(marks, b, f, dn, now).count()
    }

    // ---- d2 MinHash-LSH on the near-dup-heavy 10x corpus --------------
    val tD2 = time("d2 lshCandidates est>=0.5") {
      graft.functions.Dedup.lshCandidates(d, "doc_id", "text")
        .filter(col("estJaccard") >= 0.5).count()
    }

    // ---- LM scoring / bucketing / keep-best dedup at 10x --------------
    // (the round-12 second-session operators: model dims must stay
    // vocabulary-bounded broadcasts, the tercile refinement must stay
    // bounded aggregates, and cluster-best must ride the same pair
    // graph d2 already proved absorbs the near-dup-heavy corpus)
    import graft.functions.TextFunctions
    val tT26 = time("t26 bigramBackoff (10x held-out)") {
      TextFunctions.bigramBackoff(
        d.filter(col("doc_id") % 97 =!= 0L),
        d.filter(col("doc_id") % 97 === 0L), "doc_id", "text").count()
    }
    val tT27 = time("t27 exact-tercile buckets (10x)") {
      val model = TextFunctions.bigramModel(
        d.filter(col("doc_id") % 97 =!= 0L), "text").localCheckpoint()
      val scored = TextFunctions.bigramScoreAgainst(model, d, "doc_id", "text")
        .withColumn("scaledMean", expr("(scoreSum * 1000) DIV nBigrams"))
        .select(col("doc_id"), col("scaledMean")).localCheckpoint()
      val n = scored.count()
      val cuts = graft.functions.Sketches.exactLongRanks(
        scored, "scaledMean", Seq((n + 2) / 3, (2 * n + 2) / 3))
      scored.filter(col("scaledMean") >= cuts((2 * n + 2) / 3)).count()
    }
    val tD16 = time("d16 cluster-best (near-dup-heavy)") {
      val pairs = graft.functions.Dedup.lshCandidates(d, "doc_id", "text")
        .filter(col("estJaccard") >= 0.5).select(col("id1"), col("id2"))
      val clusters = graft.functions.Dedup.dupClusters(pairs)
        .withColumnRenamed("id", "doc_id")
      val scored = d.select(col("doc_id"),
        TextFunctions.qualityScore(col("text"), length(col("text"))).as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("clusterId"))
        .orderBy(col("score").desc, col("doc_id").asc)
      scored.join(clusters, Seq("doc_id"), "left")
        .withColumn("clusterId", coalesce(col("clusterId"), col("doc_id")))
        .withColumn("repId", first(col("doc_id")).over(w))
        .filter(col("doc_id") === col("repId")).count()
    }

    // ---- model-based filtering / resampling / drift at 10x ------------
    // (the round-12 third-session operators: the NB model must stay a
    // constant-size broadcast whatever the corpus, DSIR's two rank
    // refinements must stay bounded aggregates, the 2..10-gram melt must
    // stay one corpus pass, and the drift histograms stay ≤ maxBins)
    val tT28 = time("t28 nbClassifier (10x corpus)") {
      TextFunctions.nbClassifier(
        d.filter(col("source") === "src0"),
        d.filter(col("source") === "src1"), d, "doc_id", "text").count()
    }
    val tT29 = time("t29 repetitionSignals (10x)") {
      TextFunctions.repetitionSignals(
        d.select(col("doc_id"), col("text").as("page")),
        "doc_id", "page").filter(col("keep")).count()
    }
    val tT30 = time("t30 dsirSelect (10x, k=1000)") {
      TextFunctions.dsirSelect(
        d.filter(col("source") === "src2"),
        d.filter(col("source") =!= "src2"),
        "doc_id", "text", k = 1000L).filter(col("picked")).count()
    }
    val tT30b = time("t30b dsirSelectGumbel (10x, k=1000)") {
      TextFunctions.dsirSelectGumbel(
        d.filter(col("source") === "src2"),
        d.filter(col("source") =!= "src2"),
        "doc_id", "text", k = 1000L).filter(col("picked")).count()
    }
    val tT31 = time("t31 langIdModel (10x, 3 classes)") {
      TextFunctions.langIdModel(
        Seq("en" -> d.filter(col("doc_id") % 5 === 0),
          "r1" -> d.filter(col("doc_id") % 5 === 1),
          "r2" -> d.filter(col("doc_id") % 5 === 2))
          .map { case (l, df) => l -> df.select(col("doc_id"), col("text")) },
        d, "doc_id", "text").groupBy(col("lang")).count().count()
    }
    val tV4 = time("v4 distributionDrift (10x)") {
      graft.analytics.TableChecks.distributionDrift(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1),
        "n_chars", binWidth = 64L, maxBins = 32,
        thresholdPpm = 150000L).count()
    }
    // perceptual dedup at 10×: band buckets grow ~10× past the 256
    // valve on the hottest hash bytes — the capBuckets drop is the
    // DESIGNED behavior (a degenerate band carries no signal), and the
    // cost must stay bucket-local either way
    import graft.multimodal.Multimodal
    val media10 = d.select(col("doc_id"), lit("image").as("modality"),
      encode(col("text"), "UTF-8").as("payload"))
    val tM7 = time("m7 phashNearDups (10x assets)") {
      Multimodal.phashNearDups(media10, "doc_id").count()
    }
    val tM8 = time("m8 phash incremental (10x standing)") {
      val idx = Multimodal.phashIndex(
        media10.filter(col("doc_id") % 3 === 0), "doc_id")
      Multimodal.phashNearDupsAgainst(idx,
        media10.filter(col("doc_id") % 3 =!= 0), "doc_id").count()
    }
    // JL projection at 10×: re-keyed embedding copies are exact twins —
    // the near-dup-heavy regime — and the sign matrix stays a
    // 1024-row broadcast whatever the corpus
    val emb10 = (0 until copies).map { k =>
      graft.core.Tables.embeddings(spark, sfDir)
        .select((col("vec_id") + lit(k * Off)).as("vec_id"), col("embedding"))
    }.reduce(_ unionByName _)
    val tSim12 = time("sim12 jlTop1Recall (10x vectors)") {
      graft.functions.Vectors.jlTop1Recall(emb10,
        col("vec_id") % 1000 === 0, inDims = 64, outDims = 16)
        .filter(col("matched")).count()
    }
    // k-NN label classification at 10×: the SAME majority tally over
    // the brute top-5 and over the IVF-PQ-served top-5 — the serve path
    // must agree with the oracle path on most predictions (recall loss
    // is the accept dial, the sim10 contract applied to the vote)
    val tSim13 = time("sim13 knnClassify (10x, brute vs ivfpq)") {
      import graft.functions.Vectors
      val embL = (0 until copies).map { k =>
        graft.core.Tables.embeddings(spark, sfDir)
          .select((col("vec_id") + lit(k * Off)).as("vec_id"),
            col("embedding"), col("label"))
      }.reduce(_ unionByName _)
      val qp = col("vec_id") % 1000 === 0
      val brute = Vectors.knnClassify(embL, qp, k = 5)
        .select(col("qid"), col("predLabel").as("bp"), col("correct").as("bc"))
      val served = Vectors.knnClassifyFrom(
        Vectors.ivfPqSearch(embL, nCells = 8, nProbe = 2, qp, k = 5,
          m = 8, dsub = 8, kCode = 4, iters = 2), embL, qp)
        .select(col("qid"), col("predLabel").as("ip"), col("correct").as("ic"))
      val agg = brute.join(served, Seq("qid"))
        .agg(count(lit(1)), sum(col("bc")), sum(col("ic")),
          sum(when(col("bp") === col("ip"), 1L).otherwise(0L))).head()
      println(s"[rehearsal]   sim13: queries=${agg.getLong(0)} " +
        s"bruteCorrect=${agg.getLong(1)} ivfCorrect=${agg.getLong(2)} " +
        s"agree=${agg.getLong(3)}")
      agg.getLong(0)
    }

    // temperature mixing at 10×: ONE source-bounded totals collect +
    // integer-exact α = 3/10 budgets + the sharded admission — each
    // (source, shard) window stays corpus/nShards-bounded whatever the
    // corpus, so a 10× corpus costs ~10× map work, never a global sort
    val tT32b = time("t32b temperatureMixAlpha (10x, a=3/10)") {
      graft.functions.Shuffles.temperatureMixAlpha(
        d.select(col("doc_id"), col("lang"),
          TextFunctions.wsTokenCount(col("text")).cast("long").as("tok")),
        "doc_id", "lang", "tok", totalBudget = 700000L, nShards = 32,
        p = 3, q = 10).filter(col("keep")).count()
    }
    // the STREAMING admission twin at 10×: the 500k-doc corpus fed back
    // as a parquet stream (group-whole files, several triggers via
    // maxFilesPerTrigger), the per-(source, shard) spent ledger carrying
    // state across triggers — per-trigger cost must stay O(batch), and
    // the total must stay within a small factor of the batch admission
    val tT32s = time("t32 streaming admission (10x, multi-trigger)") {
      val sdf = d.select(col("doc_id").as("id"), col("lang").as("src"),
          TextFunctions.wsTokenCount(col("text")).cast("long").as("tok"))
        .withColumn("hkey", graft.functions.Shuffles.hashKey(col("id"), "temp0"))
        .withColumn("shard", col("hkey") % 32)
      val feed = s"$scratch/mixfeed"
      sdf.repartition(col("src"), col("shard")).write
        .mode("overwrite").parquet(feed)
      val totals = sdf.groupBy(col("src")).agg(sum(col("tok")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val outDir = s"$scratch/mixout"
      // idempotent per batchId: foreachBatch is at-least-once (a retried
      // micro-batch re-runs it), so a plain AtomicLong would double-count
      // — record each batch's kept count keyed by batchId and sum after
      // termination (a retry overwrites its own slot)
      val keptByBatch = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      import spark.implicits._
      val q = spark.readStream.option("maxFilesPerTrigger", "8")
        .schema(spark.read.parquet(feed).schema).parquet(feed)
        .as[graft.streaming.Changefeed.MixDoc]
        .transform(graft.streaming.Changefeed.streamingTemperatureMix(
          _, totals, totalBudget = 700000L, nShards = 32))
        .writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.Changefeed.MixAdmit],
           batchId: Long) =>
            { keptByBatch.put(batchId, b.filter(_.keep).count()); () }
        }
        .outputMode("update")
        .option("checkpointLocation", s"$outDir-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      keptByBatch.values.asScala.map(v => v: Long).sum
    }

    // ---- the other flagship streaming twins at 10× (r14 verdict ask:
    // parity was fixture-size only) — each fed back as a multi-trigger
    // parquet stream like t32s; per-trigger cost must stay O(batch), so
    // the max/median trigger durations are printed alongside the wall
    import scala.jdk.CollectionConverters._
    def triggerStats(q: org.apache.spark.sql.streaming.StreamingQuery): String = {
      val ds = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .map(_.durationMs.getOrDefault("triggerExecution", 0L).toLong)
      if (ds.isEmpty) "no data triggers"
      else s"${ds.size} triggers, median ${ds.sorted.apply(ds.size / 2)} ms, max ${ds.max} ms"
    }

    // slice-order stamping: shared helper (RehearsalUtil.stampSliceOrder
    // — mtime contract documented there; previously duplicated here and
    // in ScaleRehearsalStreams, which could drift)
    def stampSliceOrder(feedDir: String): Unit =
      RehearsalUtil.stampSliceOrder(feedDir)

    // N5 block-report stream (SURVEY §3.3 flagship): the 10× report wave
    // in ~8 triggers against the 12M-row stored table — per trigger the
    // reconcile scopes the stored scan to the batch's reporting nodes
    val n5Acts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val tN5s = time("n5 report STREAM (10x, multi-trigger)") {
      val feed = s"$scratch/repfeed"
      rep.repartition(32).write.mode("overwrite").parquet(feed)
      val stream = spark.readStream.option("maxFilesPerTrigger", "4")
        .schema(spark.read.parquet(feed).schema).parquet(feed)
      val q = graft.streaming.Changefeed.blockReportPipeline(b, stream,
        (id, actions) => { n5Acts.put(id, actions.count()); () })
      q.processAllAvailable(); q.stop()
      println(s"[rehearsal]   n5 stream: ${triggerStats(q)}")
      n5Acts.values.asScala.map(v => v: Long).sum
    }

    // as-of stream: 10× the event corpus through the per-key
    // latest-quote state, fed in 8 TIME-SLICED files written in ts order
    // (the time-ordered-triggers ingest contract); parity against the
    // batch operator is re-asserted at this scale via the match checksum
    import graft.streaming.Changefeed.{AsofEvent, AsofMatch}
    val evRaw10 = (0 until copies).map { k =>
      spark.table("events")
        .withColumn("user_id", col("user_id") + lit(k * Off))
        .withColumn("event_id", col("event_id") + lit(k * Off))
    }.reduce(_ unionByName _)
    val ev10 = evRaw10
      .select(col("user_id").as("key"), col("ts"),
        when(col("event_type") === "view", 0).otherwise(1).as("side"),
        when(col("event_type") === "view", 0L).otherwise(col("event_id")).as("id"),
        when(col("event_type") === "view", col("value")).otherwise(0.0).as("value"))
      .filter(col("side") === 0 || col("side") === 1)
      .localCheckpoint()
    var asofStreamSum = 0L
    val tAsof = time("asof STREAM (10x, 8 time-sliced triggers)") {
      val feed = s"$scratch/asoffeed"
      val dir = new java.io.File(feed); dir.mkdirs()
      val cuts = ev10.stat.approxQuantile("ts",
        (1 to 7).map(_ / 8.0).toArray, 0.001).map(_.toLong)
      val bounds = (Long.MinValue +: cuts.toSeq) :+ Long.MaxValue
      bounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
        ev10.filter(col("ts") >= lo && col("ts") < hi)
          .coalesce(1).write.mode("overwrite").parquet(f"$feed/slice$i%02d")
      }
      stampSliceOrder(feed)
      import spark.implicits._
      val stream = spark.readStream.option("maxFilesPerTrigger", "1")
        .schema(ev10.schema).parquet(s"$feed/slice*")
        .as[AsofEvent]
      val matched = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
      val q = graft.streaming.Changefeed.streamingAsof(stream).writeStream
        .foreachBatch { (mb: org.apache.spark.sql.Dataset[AsofMatch], id: Long) =>
          // checksum in MODULAR arithmetic: matchedTs is epoch-NANOS
          // (~1.7e18), a plain SUM over thousands of matches overflows
          // Long; both sides of the parity check use the same modulus
          val r = mb.toDF().filter(col("matchedTs").isNotNull)
            .agg(count(lit(1)), sum(col("matchedTs") % 1000000007L))
            .collect()(0)
          matched.put(id,
            (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))); ()
        }
        .outputMode("update")
        .option("checkpointLocation", s"$scratch/asof-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      println(s"[rehearsal]   asof stream: ${triggerStats(q)}")
      val (n, ts) = matched.values.asScala
        .foldLeft((0L, 0L)) { case ((a, t0), (c, t1)) => (a + c, t0 + t1) }
      asofStreamSum = ts
      n
    }
    // batch parity at 10×: same probes, same checksum
    val quotes10 = ev10.filter(col("side") === 0)
      .groupBy(col("key").as("user_id"), col("ts"))
      .agg(max(col("value")).as("quote"))
    val probes10 = ev10.filter(col("side") === 1)
      .select(col("id").as("event_id"), col("key").as("user_id"), col("ts"))
    val batchAsof = graft.functions.Events.asofJoin(
      probes10, quotes10, "user_id", "ts", Seq("quote"))
      .agg(sum(col("matchedTs") % 1000000007L).cast("long"))
      .collect()(0).getLong(0)
    println(s"[rehearsal] asof stream≡batch at 10x: ${asofStreamSum == batchAsof}" +
      s" (stream $asofStreamSum, batch $batchAsof)")

    // sessionizer stream: the 10× event corpus through the per-user
    // mapGroupsWithState sessionizer in 8 time-sliced triggers — state
    // is O(users), per trigger cost O(batch); parity against the batch
    // window-lag sessionization re-asserted at this scale
    var sessStreamTotal = 0L
    val tSess = time("sessionize STREAM (10x, 8 time-sliced triggers)") {
      import spark.implicits._
      import graft.streaming.Changefeed.{SessEvent, SessCount}
      val feed = s"$scratch/sessfeed"
      val se = ev10.select(col("key").as("user_id"), col("ts"))
      val cuts = se.stat.approxQuantile("ts",
        (1 to 7).map(_ / 8.0).toArray, 0.001).map(_.toLong)
      val bounds = (Long.MinValue +: cuts.toSeq) :+ Long.MaxValue
      bounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
        se.filter(col("ts") >= lo && col("ts") < hi)
          .coalesce(1).write.mode("overwrite").parquet(f"$feed/slice$i%02d")
      }
      stampSliceOrder(feed)
      val stream = spark.readStream.option("maxFilesPerTrigger", "1")
        .schema(se.schema).parquet(s"$feed/slice*").as[SessEvent]
      // last state per user wins (update-mode running counters)
      val fin = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
      val q = graft.streaming.Changefeed.streamingSessionize(stream)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[SessCount], _: Long) =>
          b.collect().foreach(s => fin.put(s.user_id, (s.events, s.sessions)))
          ()
        }
        .outputMode("update")
        .option("checkpointLocation", s"$scratch/sess-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      println(s"[rehearsal]   sessionize stream: ${triggerStats(q)}")
      sessStreamTotal = fin.values.asScala.map(_._2).sum
      fin.size.toLong
    }
    val batchSessions = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("key")).orderBy(col("ts"))
      ev10.select(col("key"), col("ts"))
        .withColumn("prevTs", lag(col("ts"), 1).over(w))
        .withColumn("newSession", when(col("prevTs").isNull ||
          col("ts") - col("prevTs") > 1800000000000L, 1L).otherwise(0L))
        .agg(sum(col("newSession"))).head().getLong(0)
    }
    println(s"[rehearsal] sessionize stream≡batch at 10x: " +
      s"${sessStreamTotal == batchSessions} (stream $sessStreamTotal, " +
      s"batch $batchSessions)")

    // perceptual-dedup stream: standing third indexed once, the other
    // two-thirds arrive across triggers and probe the pinned index
    val tPhashS = time("m8 phash STREAM (10x, multi-trigger)") {
      val feed = s"$scratch/phashfeed"
      media10.filter(col("doc_id") % 3 =!= 0).repartition(24)
        .write.mode("overwrite").parquet(feed)
      val stream = spark.readStream.option("maxFilesPerTrigger", "3")
        .schema(spark.read.parquet(feed).schema).parquet(feed)
      val acc = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val q = graft.streaming.Changefeed.streamingPhashDedup(stream,
        media10.filter(col("doc_id") % 3 === 0), "doc_id",
        (res, id) => { acc.put(id, res.count()); () })
      q.processAllAvailable(); q.stop()
      println(s"[rehearsal]   phash stream: ${triggerStats(q)}")
      acc.values.asScala.map(v => v: Long).sum
    }

    // language-ID stream: the k-class NB model pins once; each trigger
    // pays its own melt + ONE batch-keyed aggregate
    val tLangS = time("t31 langId STREAM (10x, multi-trigger)") {
      val feed = s"$scratch/langfeed"
      d.select(col("doc_id"), col("text")).repartition(24)
        .write.mode("overwrite").parquet(feed)
      val stream = spark.readStream.option("maxFilesPerTrigger", "3")
        .schema(spark.read.parquet(feed).schema).parquet(feed)
      val classes = Seq("en" -> d.filter(col("doc_id") % 5 === 0),
        "r1" -> d.filter(col("doc_id") % 5 === 1),
        "r2" -> d.filter(col("doc_id") % 5 === 2))
        .map { case (l, df) => l -> df.select(col("doc_id"), col("text")) }
      val acc = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val q = graft.streaming.Changefeed.streamingLangId(stream, classes,
        "doc_id", "text", (res, id) => { acc.put(id, res.count()); () })
      q.processAllAvailable(); q.stop()
      println(s"[rehearsal]   langId stream: ${triggerStats(q)}")
      acc.values.asScala.map(v => v: Long).sum
    }

    // t34 curriculum at 10×: the ×|stages| explode + ONE set of
    // (stage, source, shard) windows — two stages cost one pass
    val tT34 = time("t34 curriculumMix (10x, 2 stages)") {
      graft.functions.Shuffles.curriculumMix(
        d.select(col("doc_id"), col("lang"),
          TextFunctions.wsTokenCount(col("text")).cast("long").as("tok")),
        "doc_id", "lang", "tok",
        Seq("warm" -> Map("en" -> 400000L, "es" -> 200000L, "de" -> 100000L),
          "anneal" -> Map("en" -> 100000L, "de" -> 300000L)),
        nShards = 32).filter(col("keep")).count()
    }

    // t33b epoch expansion at 10×: the (doc, epoch) materialization must
    // stay one explode + one bounded rank shuffle whatever the corpus
    val tT33b = time("t33b epochExpand (10x, ~2.5 epochs)") {
      val dm = d.select(col("doc_id"), col("lang"),
        TextFunctions.wsTokenCount(col("text")).cast("long").as("tok"))
      val totals = dm.groupBy(col("lang")).agg(sum(col("tok")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val budgets = totals.map { case (g, n) => g -> (5L * n / 2L + 1000L) }
      val mixed = graft.functions.Shuffles.epochMix(
        dm, "doc_id", "lang", "tok", budgets, nShards = 32)
      graft.functions.Shuffles.epochExpand(mixed, "doc_id", nShards = 32)
        .count()
    }

    // t35 span decontamination at 10×: the eval index stays benchmark-
    // sized (~1/97 of the corpus) and BROADCASTS; the 10× training gram
    // stream probes it map-side — cost must scale with the corpus melt,
    // never corpus × eval
    val tT35 = time("t35 decontaminateSpans (10x)") {
      val evalSlice = d.filter(col("doc_id") % 97 === 0L)
        .select(col("doc_id"), col("text"))
      val train = d.filter(col("doc_id") % 97 =!= 0L)
        .select(col("doc_id"), col("text"))
      val out = graft.functions.Dedup.decontaminateSpans(
        train, evalSlice, "doc_id", "text")
      val agg = out.agg(count(lit(1)), sum(col("cutTokens")),
        sum(when(col("evalHits") > 0, 1L).otherwise(0L))).head()
      println(s"[rehearsal]   t35: cutTokens=${agg.getLong(1)} " +
        s"contaminatedDocs=${agg.getLong(2)}")
      agg.getLong(0)
    }

    // range-join stream: arriving clicks attribute against the standing
    // 10× purchase-window table — the pre-bucketized interval frame pins
    // once, each trigger pays its own bucket keying + bucket-local join
    val tRangeS = time("e8 range-join STREAM (10x, multi-trigger)") {
      val iv = evRaw10.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("wstart"),
          (col("ts") + lit(6L * 3600L * 1000000000L)).as("wend"))
      val feed = s"$scratch/rangefeed"
      evRaw10.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
        .repartition(24).write.mode("overwrite").parquet(feed)
      val stream = spark.readStream.option("maxFilesPerTrigger", "3")
        .schema(spark.read.parquet(feed).schema).parquet(feed)
      val acc = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val q = graft.streaming.Changefeed.streamingRangeJoin(stream, iv,
        "user_id", "ts", "wstart", "wend",
        bucketNs = 6L * 3600L * 1000000000L,
        (res, id) => { acc.put(id, res.count()); () })
      q.processAllAvailable(); q.stop()
      println(s"[rehearsal]   range stream: ${triggerStats(q)}")
      acc.values.asScala.map(v => v: Long).sum
    }

    // incremental-LSH stream: the standing third's banded signature
    // index pins once, the arriving two-thirds classify per trigger
    val tLshS = time("d10 incr-LSH STREAM (10x, multi-trigger)") {
      val standing = d.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val feed = s"$scratch/lshfeed"
      d.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"), col("text"))
        .repartition(24).write.mode("overwrite").parquet(feed)
      val stream = spark.readStream.option("maxFilesPerTrigger", "3")
        .schema(spark.read.parquet(feed).schema).parquet(feed)
      val acc = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val q = graft.streaming.Changefeed.streamingIncrementalLsh(stream,
        standing, "doc_id", "text",
        (res, id) => { acc.put(id, res.count()); () })
      q.processAllAvailable(); q.stop()
      println(s"[rehearsal]   lsh stream: ${triggerStats(q)}")
      acc.values.asScala.map(v => v: Long).sum
    }

    // payload-dedup stream: the standing third's whole+chunk hash index
    // pins once, arriving media classify exact/near/unique per trigger
    val tPayS = time("m-payload dedup STREAM (10x, multi-trigger)") {
      val standing = media10.filter(col("doc_id") % 3 === 0)
      val feed = s"$scratch/payfeed"
      media10.filter(col("doc_id") % 3 =!= 0)
        .repartition(24).write.mode("overwrite").parquet(feed)
      val stream = spark.readStream.option("maxFilesPerTrigger", "3")
        .schema(spark.read.parquet(feed).schema).parquet(feed)
      val acc = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val q = graft.streaming.Changefeed.streamingPayloadDedup(stream,
        standing, "doc_id", (res, id) => { acc.put(id, res.count()); () })
      q.processAllAvailable(); q.stop()
      println(s"[rehearsal]   payload stream: ${triggerStats(q)}")
      acc.values.asScala.map(v => v: Long).sum
    }

    // ANN-ingest stream: the standing 10× corpus's IVF-PQ index built
    // and MATERIALIZED once (localCheckpoint — foreachBatch re-executes
    // lazy static plans per trigger, which would re-run the k-means),
    // the arriving 1/7 slice probes it across 8 triggers — per trigger:
    // batch cell ranking + residual LUT + one codes-table scan
    val tAnnS = time("sim11 ANN-ingest STREAM (10x, multi-trigger)") {
      import graft.functions.Vectors
      val corpus = emb10.filter(col("vec_id") % 7 =!= 3)
      val cent = Vectors.kmeansCentroids(corpus, nCells = 8, iters = 2)
        .localCheckpoint()
      val resid = Vectors.ivfResiduals(corpus, cent)
      val residEmb = resid.select(col("vec_id"), col("embedding"))
      val cb = Vectors.pqCodebook(residEmb, m = 8, dsub = 8, kCode = 4,
        skip = 8).localCheckpoint()
      val codes = Vectors.pqCodes(residEmb, cb, dsub = 8)
        .join(resid.select(col("vec_id"), col("cellId")), Seq("vec_id"))
        .localCheckpoint()
      val feed = s"$scratch/annfeed"
      emb10.filter(col("vec_id") % 7 === 3).repartition(8)
        .write.mode("overwrite").parquet(feed)
      val stream = spark.readStream.option("maxFilesPerTrigger", "1")
        .schema(spark.read.parquet(feed).schema).parquet(feed)
      val acc = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val q = graft.streaming.Changefeed.streamingAnnIngest(stream, codes,
        cb, cent, dsub = 8, nProbe = 2, k = 3,
        (out, id) => { acc.put(id, out.count()); () })
      q.processAllAvailable(); q.stop()
      println(s"[rehearsal]   ann stream: ${triggerStats(q)}")
      acc.values.asScala.map(v => v: Long).sum
    }

    // t35 STREAM at 10×: the crawl-ingest twin — the eval index pins
    // once, 8 triggers each decontaminate ~1/8 of the 500k-doc corpus;
    // per-trigger cost must stay O(batch gram melt)
    val tT35s = time("t35 decontaminate STREAM (10x, multi-trigger)") {
      val feed = s"$scratch/t35feed"
      val evalSlice = d.filter(col("doc_id") % 97 === 0L)
        .select(col("doc_id"), col("text"))
      d.filter(col("doc_id") % 97 =!= 0L)
        .select(col("doc_id"), col("text"))
        .repartition(24).write.mode("overwrite").parquet(feed)
      val stream = spark.readStream.option("maxFilesPerTrigger", "3")
        .schema(spark.read.parquet(feed).schema).parquet(feed)
      val acc = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val q = graft.streaming.Changefeed.streamingDecontaminate(
        stream, evalSlice, "doc_id", "text", k = 8, margin = 8,
        sink = (res, id) => { acc.put(id, res.count()); () })
      q.processAllAvailable(); q.stop()
      println(s"[rehearsal]   t35 stream: ${triggerStats(q)}")
      acc.values.asScala.map(v => v: Long).sum
    }

    // t36/t37 packing at 10×: both are the shardShuffle shape — one
    // narrow hash shuffle + shard-local windows; skew and context count
    // printed so the balance/packing claims carry numbers
    val tT36 = time("t36 balancedPack (10x)") {
      val dm = d.select(col("doc_id"),
        TextFunctions.wsTokenCount(col("text")).cast("long").as("tok"))
      val byBin = graft.functions.Shuffles
        .balancedPack(dm, "doc_id", "tok", nShards = 32, nBins = 8)
        .groupBy(col("shard"), col("bin"))
        .agg(sum(col("tok")).as("binTokens"))
      val skew = byBin.groupBy(col("shard"))
        .agg(expr("(max(binTokens) - min(binTokens)) * 1000000 div sum(binTokens)")
          .as("ppm"))
        .agg(max(col("ppm"))).head().getLong(0)
      println(s"[rehearsal]   t36: worstShardSkewPpm=$skew")
      byBin.count()
    }
    val tT37 = time("t37 contextPack (10x, ctx=2048)") {
      val dm = d.select(col("doc_id"),
        TextFunctions.wsTokenCount(col("text")).cast("long").as("tok"))
      val packed = graft.functions.Shuffles.contextPack(
        dm, "doc_id", "tok", ctxLen = 2048L, nShards = 32)
      val agg = packed.agg(count(lit(1)),
        sum(col("endCtx") - col("startCtx") + 1L),
        sum(when(col("endCtx") > col("startCtx"), 1L).otherwise(0L))).head()
      println(s"[rehearsal]   t37: docCtxRows=${agg.getLong(1)} " +
        s"boundaryDocs=${agg.getLong(2)}")
      agg.getLong(0)
    }

    val r = Seq("build" -> tBuild, "paths_fast" -> tPathsFast,
      "paths_iter" -> tPathsIter, "resolve_fast" -> tResFast,
      "resolve_iter" -> tResIter, "cs_fast" -> tCsFast,
      "cs_iter" -> tCsIter, "n5" -> tN5, "requeue" -> tRequeue,
      "corrupt" -> tCorrupt, "d2" -> tD2, "t26" -> tT26, "t27" -> tT27,
      "d16" -> tD16, "t28" -> tT28, "t29" -> tT29, "t30" -> tT30,
      "t30b" -> tT30b, "t31" -> tT31,
      "v4" -> tV4, "m7" -> tM7, "m8" -> tM8, "sim12" -> tSim12,
      "t32b" -> tT32b, "t32s" -> tT32s, "n5_stream" -> tN5s,
      "asof_stream" -> tAsof, "phash_stream" -> tPhashS,
      "langid_stream" -> tLangS, "t34" -> tT34, "t33b" -> tT33b,
      "sess_stream" -> tSess, "ann_stream" -> tAnnS, "sim13" -> tSim13,
      "range_stream" -> tRangeS, "lsh_stream" -> tLshS,
      "payload_stream" -> tPayS,
      "t35" -> tT35, "t35_stream" -> tT35s, "t36" -> tT36, "t37" -> tT37)
    RehearsalUtil.checkBands(s"r$copies", r)
    println(r.map { case (k, v) => s""""$k":$v""" }
      .mkString(s"""{"metric":"rehearsal","copies":$copies,"identical":${
        pathsDiff + resDiff + csDiff == 0},"sf":"$sfDir",""", ",", "}"))
    spark.stop()
  }
}
