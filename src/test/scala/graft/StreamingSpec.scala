package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.Changefeed
import graft.streaming.Changefeed.{KeyState, Op}

/** Streaming behavior on FIXTURES.md §2 fixtures: out-of-order/duplicate
  * op-log replay, the capped heartbeat command dequeue, and each stream
  * twin landing on its gated batch operator. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val sinks = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Run `body` over `stream` writing (Update mode) into a memory sink
    * named for this call; the query stops and the sink's view is dropped
    * after it, so no two tests share a sink and none outlives its test. */
  private def withMemorySink[T](stream: Dataset[_])(body: (StreamingQuery, String) => T): T = {
    val sink = s"streaming_spec_sink_${sinks.size}"
    sinks += sink
    val q = stream.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Update).start()
    try body(q, sink)
    finally { q.stop(); spark.catalog.dropTempView(sink) }
  }

  test("changefeed: out-of-order and duplicate versions resolve latest-wins") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Op]
    withMemorySink(Changefeed.applyOps(spark, mem.toDS())) { (q, sink) =>
      mem.addData(Op(1L, "INSERT", 10L, 1L), Op(2L, "INSERT", 20L, 2L))
      q.processAllAvailable()
      // late arrival (version 1 dup), newer update, tombstone for key 2
      mem.addData(Op(1L, "INSERT", 10L, 1L), Op(1L, "UPDATE", 11L, 5L),
        Op(2L, "DELETE", 20L, -7L))
      q.processAllAvailable()
      // stale ops must NOT regress the state
      mem.addData(Op(1L, "UPDATE", 99L, 3L), Op(2L, "INSERT", 21L, 4L))
      q.processAllAvailable()
      val last = spark.table(sink).as[KeyState].collect()
        .groupBy(_.key).map { case (k, vs) => k -> vs.maxBy(s => math.abs(s.version)) }
      assert(last(1L) == KeyState(1L, 11L, 5L, live = true))
      assert(last(2L) == KeyState(2L, 20L, -7L, live = false))
    }
  }

  test("streamingBm25Ingest: per-trigger delta append; cross-trigger replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextFunctions
    val storeDir = graft.core.Caching.scratchDir("bm25-ingest")
      .resolve("store").toString
    TextFunctions.bm25Postings(
        Seq((1L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text")
      .write.parquet(storeDir)
    val mem = MemoryStream[(Long, String)]
    val deltaRows = scala.collection.mutable.ArrayBuffer[Long]()
    val q = Changefeed.streamingBm25Ingest(
      mem.toDF().toDF("doc_id", "text"), storeDir, "doc_id", "text",
      sink = (d, _) => { deltaRows += d.count(); () })
    try {
      // trigger 1: one new doc + a replay of the SEEDED doc — the replay
      // must vanish whole (doc 1 keeps its first postings)
      mem.addData((2L, "gamma delta"), (1L, "replayed text ignored"))
      q.processAllAvailable()
      // trigger 2: doc 2 re-delivered with DIFFERENT text (now standing
      // via trigger 1's append — dropped whole) + one genuinely new doc
      mem.addData((2L, "changed text ignored"), (3L, "epsilon"))
      q.processAllAvailable()
    } finally q.stop()
    assert(deltaRows.toSeq == Seq(2L, 1L),
      s"per-trigger deltas must be batch-only: $deltaRows")
    val store = spark.read.parquet(storeDir)
    assert(store.count() == 5) // seed 2 + trigger1 2 + trigger2 1
    assert(store.filter(col("term").isin("replayed", "changed", "ignored"))
      .count() == 0, "replayed/re-delivered docs must never land")
    assert(store.filter(col("did") === 2L).select(col("term"))
      .collect().map(_.getString(0)).sorted.toSeq == Seq("delta", "gamma"))
  }

  test("streamingBm25Ingest maintains the stats store: per-trigger folds serve == rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextFunctions
    import graft.core.Scale
    val root = graft.core.Caching.scratchDir("bm25-ingest-stats")
    val storeDir = root.resolve("store").toString
    val statsDir = root.resolve("stats").toString
    val seed = TextFunctions.bm25Postings(
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text")
    seed.write.parquet(storeDir)
    Scale.writeStatsStore(statsDir, TextFunctions.bm25StatsOf(
      spark.read.parquet(storeDir)))
    val mem = MemoryStream[(Long, String)]
    val q = Changefeed.streamingBm25Ingest(
      mem.toDF().toDF("doc_id", "text"), storeDir, "doc_id", "text",
      sink = (_, _) => (), statsDir = Some(statsDir))
    try {
      mem.addData((2L, "gamma delta alpha"), (1L, "replayed ignored"))
      q.processAllAvailable()
      mem.addData((3L, "epsilon alpha"), (2L, "changed ignored"))
      q.processAllAvailable()
    } finally q.stop()
    // two data triggers → two folds on top of the v0 bootstrap
    assert(Scale.latestStatsVersion(statsDir) == 2L)
    val store = spark.read.parquet(storeDir)
    val served = TextFunctions.bm25IndexFromStats(store,
      Scale.readStatsStore(spark, statsDir))
    val rebuilt = TextFunctions.bm25IndexFrom(store)
    assert(served.exceptAll(rebuilt).count() == 0 &&
      rebuilt.exceptAll(served).count() == 0,
      "trigger-by-trigger maintained stats must serve the rebuilt index")
    // 'alpha' reached 3 docs purely through per-trigger df folds
    assert(Scale.readStatsStore(spark, statsDir).termDf
      .filter(col("term") === "alpha").collect().head.getLong(1) == 3L)
  }

  test("streamingBm25Ingest replay after a committed delta never clobbers the store") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextFunctions
    val root = graft.core.Caching.scratchDir("bm25-ingest-replay")
    val storeDir = root.resolve("store").toString
    // the crashed-run state: batch 0's delta file IS committed in the
    // store, but the checkpoint never recorded the trigger — a restart
    // re-delivers the same docs as batchId 0, whose recomputed delta is
    // EMPTY (the docs are standing). The unguarded rename would replace
    // delta-0.parquet with that empty file and silently lose the batch.
    TextFunctions.bm25Postings(
        Seq((9L, "zeta eta")).toDF("doc_id", "text"), "doc_id", "text")
      .write.parquet(storeDir)
    val tmp = root.resolve("tmp").toString
    TextFunctions.bm25Postings(
        Seq((1L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text")
      .repartition(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(storeDir, "delta-0.parquet"))
    val mem = MemoryStream[(Long, String)]
    val q = Changefeed.streamingBm25Ingest(
      mem.toDF().toDF("doc_id", "text"), storeDir, "doc_id", "text",
      sink = (_, _) => ())
    try {
      mem.addData((1L, "alpha beta")) // the replayed batch, batchId 0
      q.processAllAvailable()
    } finally q.stop()
    val store = spark.read.parquet(storeDir)
    assert(store.filter(col("did") === 1L).count() == 2L,
      "a replayed trigger must not clobber its committed delta file")
    assert(store.count() == 4L)
  }

  test("changefeed state survives a checkpointed restart") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = graft.core.Caching.scratchDir("ckpt").toString
    val mem = MemoryStream[Op]
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[KeyState]()
    def start() = Changefeed.applyOps(spark, mem.toDS())
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[KeyState], _: Long) =>
        batch.collect().foreach(emitted.add)
      }
      .start()
    val q1 = start()
    try {
      mem.addData(Op(1L, "INSERT", 10L, 5L))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the same checkpoint: stale op must lose against the
    // RECOVERED state (version 5), not a fresh empty state
    val q2 = start()
    try {
      mem.addData(Op(1L, "UPDATE", 99L, 3L), Op(1L, "UPDATE", 42L, 8L))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val last = emitted.iterator().asScala.toSeq
        .filter(_.key == 1L).maxBy(s => math.abs(s.version))
      assert(last == KeyState(1L, 42L, 8L, live = true)) // 3 lost to recovered 5
    } finally q2.stop()
  }

  test("heartbeat command dequeue hands work to beating nodes only") {
    implicit val sqlCtx = spark.sqlContext
    val work = Seq((11L, 201L, "replicate"), (12L, 202L, "invalidate"),
      (13L, 203L, "replicate")).toDF("datanodeId", "blockId", "command")
    val mem = MemoryStream[Long]
    val hb = mem.toDF().toDF("datanodeId")
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = Changefeed.heartbeatCommands(hb, () => work, (_, cmds) =>
      cmds.select(col("datanodeId"), col("blockId")).collect()
        .foreach(r => got += ((r.getLong(0), r.getLong(1)))))
    try {
      mem.addData(11L, 13L)
      q.processAllAvailable()
      assert(got.toSet == Set((11L, 201L), (13L, 203L))) // 12 never beat
    } finally q.stop()
  }

  test("heartbeat dequeue caps commands per beat like handleHeartbeat") {
    implicit val sqlCtx = spark.sqlContext
    // node 11's queue: 3 replications + 4 invalidations — one beat with
    // 1 transfer already in flight must hand out only
    // maxReplicationStreams − xmits = 1 replication (lowest blockId) and
    // blockInvalidateLimit = 2 invalidations
    val work = ((1 to 3).map(i => (11L, 200L + i, "replicate")) ++
      (1 to 4).map(i => (11L, 300L + i, "invalidate"))).toDF("datanodeId", "blockId", "command")
    val mem = MemoryStream[(Long, Long)]
    val hb = mem.toDF().toDF("datanodeId", "xmitsInProgress")
    val got = scala.collection.mutable.Set.empty[(Long, String)]
    val q = Changefeed.heartbeatCommands(hb, () => work, (_, cmds) =>
      cmds.select(col("blockId"), col("command")).collect()
        .foreach(r => got += ((r.getLong(0), r.getString(1)))),
      maxReplicationStreams = 2, blockInvalidateLimit = 2)
    try {
      mem.addData((11L, 1L))
      q.processAllAvailable()
      assert(got.toSet == Set((201L, "replicate"),
        (301L, "invalidate"), (302L, "invalidate")))
      // stream == batch: the beat's commands are the gated n9 capping
      val batch = graft.analytics.Replication.capCommands(work,
          Seq((11L, 1L)).toDF("datanodeId", "xmitsInProgress"), 2, 2)
        .select(col("blockId"), col("command")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSet == batch.toSet && got.size == batch.length)
    } finally q.stop()
  }

  test("streamed incremental spans match the batch classification") {
    implicit val sqlCtx = spark.sqlContext
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val existing = Seq((1L, "e1 e2 " + shared + " e3 e4")).toDF("doc_id", "text")
    val batchDocs = Seq(
      (10L, "b1 b2 " + shared + " b3"),                 // matches the corpus
      (11L, (1 to 12).map(i => s"u$i").mkString(" ")),  // unique
    )
    val mem = MemoryStream[(Long, String)]
    val acc = scala.collection.concurrent.TrieMap[(Long, Long), (Long, Boolean)]()
    val q = Changefeed.streamingIncrementalSpans(
      mem.toDF().toDF("doc_id", "text"), existing, "doc_id", "text",
      (out, _) => out.collect().foreach(r =>
        acc((r.getLong(0), r.getLong(1))) = ((r.getLong(3), r.getBoolean(4)))))
    try {
      mem.addData(batchDocs: _*)
      q.processAllAvailable()
      val expect = graft.functions.Dedup.incrementalSpans(
          existing, batchDocs.toDF("doc_id", "text"), "doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(3), r.getBoolean(4))))
        .toMap
      assert(acc.toMap == expect)
      assert(acc((10L, 2L)) == ((10L, true)) && !acc.keys.exists(_._1 == 11L))
    } finally q.stop()
  }

  test("streamed incremental LSH matches the batch classification") {
    implicit val sqlCtx = spark.sqlContext
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely here now friends"),
    ).toDF("doc_id", "text")
    val batchDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "unrelated payload with its own vocabulary tokens throughout"),
    )
    val mem = MemoryStream[(Long, String)]
    val acc = scala.collection.concurrent.TrieMap[Long, (String, Any)]()
    val q = Changefeed.streamingIncrementalLsh(
      mem.toDF().toDF("doc_id", "text"), existing, "doc_id", "text",
      (out, _) => out.collect().foreach(r =>
        acc(r.getLong(0)) = (r.getString(1), r.get(2))))
    try {
      mem.addData(batchDocs: _*)
      q.processAllAvailable()
      // parity with the batch path on the same inputs
      val expect = graft.functions.Dedup.incrementalLsh(
          existing, batchDocs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.get(2)))).toMap
      assert(acc.toMap == expect)
      assert(acc(10L) == (("near_dup", 1L)) && acc(11L)._1 == "unique")
    } finally q.stop()
  }

  test("streamed perceptual dedup matches the batch verdicts against the pinned index") {
    implicit val sqlCtx = spark.sqlContext
    val toMedia = (df: org.apache.spark.sql.DataFrame) => df.select(
      col("doc_id"), lit("image").as("modality"),
      encode(col("text"), "UTF-8").as("payload"))
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val standing = toMedia(Seq((1L, text),
      (2L, (1 to 30).map(i => s"z${i * 3}").mkString(" ")))
      .toDF("doc_id", "text"))
    val batchRows = Seq(
      (10L, text),                                    // exact_phash of 1
      (11L, text.dropRight(12) + "!!!!!!!!!!!!"),     // near_dup of 1
      (12L, (1 to 40).map(i => s"m${i * 13}").mkString(" "))) // unique
    val mem = MemoryStream[(Long, String)]
    val acc = scala.collection.concurrent.TrieMap[Long, (String, Any)]()
    val q = Changefeed.streamingPhashDedup(
      toMedia(mem.toDF().toDF("doc_id", "text")), standing, "doc_id",
      (out, _) => out.collect().foreach(r =>
        acc(r.getLong(0)) = (r.getString(1), r.get(2))))
    try {
      // two triggers — the SAME pinned index serves both
      mem.addData(batchRows(0), batchRows(1)); q.processAllAvailable()
      mem.addData(batchRows(2)); q.processAllAvailable()
      val expect = graft.multimodal.Multimodal.phashNearDupsAgainst(
          graft.multimodal.Multimodal.phashIndex(standing, "doc_id"),
          toMedia(batchRows.toDF("doc_id", "text")), "doc_id")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.get(2)))).toMap
      assert(acc.toMap == expect)
      assert(acc(10L) == (("exact_phash", 1L)))
      assert(acc(11L)._1 == "near_dup" && acc(12L)._1 == "unique")
    } finally q.stop()
  }

  test("streamed asset dedup matches the batch classification against the pinned index") {
    implicit val sqlCtx = spark.sqlContext
    val asMedia = (rows: Seq[(Long, String)]) =>
      rows.toDF("doc_id", "text").select(col("doc_id"),
        lit("image").as("modality"), encode(col("text"), "UTF-8").as("payload"))
    val standing = asMedia(Seq(
      (1L, "x" * 150 + "y" * 50), (2L, "w" * 200)))
    val batchRows = Seq(
      (10L, "x" * 150 + "y" * 50),          // exact re-delivery of 1
      (11L, ("x" * 150 + "y" * 50) + "v2"), // near: all 4 full... 3 full chunks shared
      (12L, "q" * 200))                     // unique
    val mem = MemoryStream[(Long, String)]
    val acc = scala.collection.concurrent.TrieMap[Long, (String, Any, Any)]()
    val q = Changefeed.streamingPayloadDedup(
      mem.toDF().toDF("doc_id", "text").select(col("doc_id"),
        lit("image").as("modality"), encode(col("text"), "UTF-8").as("payload")),
      standing, "doc_id",
      (out, _) => out.collect().foreach(r =>
        acc(r.getLong(0)) = (r.getString(1), r.get(2), r.get(3))))
    try {
      mem.addData(batchRows(0), batchRows(1)); q.processAllAvailable()
      mem.addData(batchRows(2)); q.processAllAvailable()
      val expect = graft.multimodal.Multimodal.payloadDedupAgainst(
          graft.multimodal.Multimodal.payloadIndex(standing, "doc_id"),
          asMedia(batchRows), "doc_id")
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.get(2), r.get(3)))).toMap
      assert(acc.toMap == expect)
      assert(acc(10L)._1 == "exact_dup" && acc(10L)._2 == 1L)
      assert(acc(11L)._1 == "near_dup" && acc(11L)._2 == 1L)
      assert(acc(12L)._1 == "unique" && acc(12L)._2 == null)
    } finally q.stop()
  }

  test("streamed LM scoring matches batch stupid-backoff; model pinned across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val train = Seq((1L, "a b a c a b")).toDF("doc_id", "text")
    val evalDocs = Seq((10L, "a b c z b"), (11L, "c a b"))
    val mem = MemoryStream[(Long, String)]
    val acc = scala.collection.concurrent.TrieMap[Long, (Long, Long, Long, Double)]()
    val q = Changefeed.streamingLmScore(
      mem.toDF().toDF("doc_id", "text"), train, "doc_id", "text",
      (out, _) => out.collect().foreach(r =>
        acc(r.getLong(0)) = (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))))
    try {
      // two separate triggers — the SAME pinned model serves both
      mem.addData(evalDocs(0)); q.processAllAvailable()
      mem.addData(evalDocs(1)); q.processAllAvailable()
      val expect = graft.functions.TextFunctions.bigramBackoff(
          train, evalDocs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      assert(acc.toMap == expect)
      // hand-computed doc 10 (DataOpsSpec's fixture): 4 bigrams,
      // 666666+66666+0+133333, 3 backoffs
      assert(acc(10L) == ((4L, 866665L, 3L, 866665.0 / 4)))
    } finally q.stop()
  }

  test("streamed quality scoring matches batch NB classifier; model pinned across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val pos = Seq((1L, "good great good")).toDF("doc_id", "text")
    val neg = Seq((2L, "bad awful bad")).toDF("doc_id", "text")
    val probe = Seq((10L, "good good"), (11L, "bad"), (12L, "neutral"))
    val mem = MemoryStream[(Long, String)]
    val acc = scala.collection.concurrent.TrieMap[Long, (Long, Long, Boolean)]()
    val q = Changefeed.streamingQualityScore(
      mem.toDF().toDF("doc_id", "text"), pos, neg, "doc_id", "text",
      (out, _) => out.collect().foreach(r =>
        acc(r.getLong(0)) = (r.getLong(1), r.getLong(2), r.getBoolean(3))))
    try {
      // two separate triggers — the SAME pinned model serves both
      mem.addData(probe(0), probe(1)); q.processAllAvailable()
      mem.addData(probe(2)); q.processAllAvailable()
      val expect = graft.functions.TextFunctions.nbClassifier(
          pos, neg, probe.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
      assert(acc.toMap == expect)
      // hand-computed doc 10 (DataOpsSpec's fixture): +1 per "good", 0
      // for the hashed bigram → score 2, kept
      assert(acc(10L) == ((3L, 2L, true)))
    } finally q.stop()
  }

  test("streamed language ID matches batch argmax; k-class model pinned across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val en = Seq((1L, "the of and to a the of and")).toDF("doc_id", "text")
    val de = Seq((2L, "der die das und ist der die")).toDF("doc_id", "text")
    val classes = Seq("de" -> de, "en" -> en)
    val probe = Seq((10L, "the of and"), (11L, "der und ist"), (12L, "zzz"))
    val mem = MemoryStream[(Long, String)]
    val acc = scala.collection.concurrent.TrieMap[Long, (String, Long, Long)]()
    val q = Changefeed.streamingLangId(
      mem.toDF().toDF("doc_id", "text"), classes, "doc_id", "text",
      (out, _) => out.collect().foreach(r =>
        acc(r.getLong(0)) = (r.getString(1), r.getLong(2), r.getLong(3))))
    try {
      // two separate triggers — the SAME pinned model serves both
      mem.addData(probe(0), probe(1)); q.processAllAvailable()
      mem.addData(probe(2)); q.processAllAvailable()
      val expect = graft.functions.TextFunctions.langIdModel(
          classes, probe.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(acc.toMap == expect)
      assert(acc(10L)._1 == "en" && acc(11L)._1 == "de")
    } finally q.stop()
  }

  test("streamed span decontamination matches batch; eval index pinned across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = Seq((100L, (1 to 10).map(i => s"s$i").mkString(" ")))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, ((1 to 5).map(i => s"u$i") ++ (1 to 10).map(i => s"s$i") ++
        (1 to 20).map(i => s"v$i")).mkString(" ")),
      (2L, (1 to 20).map(i => s"w$i").mkString(" ")),
      (3L, "a b c"))
    val mem = MemoryStream[(Long, String)]
    val acc = scala.collection.concurrent.TrieMap[Long, (Long, Long, Long, Long, String)]()
    val q = Changefeed.streamingDecontaminate(
      mem.toDF().toDF("doc_id", "text"), evalDocs, "doc_id", "text",
      k = 8, margin = 8,
      sink = (out, _) => out.collect().foreach(r =>
        acc(r.getLong(0)) =
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getString(5))))
    try {
      // the contaminated doc and a clean doc arrive in DIFFERENT
      // triggers — the same pinned eval index serves both
      mem.addData(train(0)); q.processAllAvailable()
      mem.addData(train(1), train(2)); q.processAllAvailable()
      val expect = graft.functions.Dedup.decontaminateSpans(
          train.toDF("doc_id", "text"), evalDocs, "doc_id", "text")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getString(5)))).toMap
      assert(acc.toMap == expect)
      assert(acc(1L)._4 == 3L && acc(2L)._4 == 0L) // hits only where planted
    } finally q.stop()
  }

  test("streamed KMV: batch folds reach the whole-corpus sketch exactly") {
    implicit val sqlCtx = spark.sqlContext
    val all = (0L until 200L) ++ (100L until 300L) // 300 distinct, overlap
    val mem = MemoryStream[Long]
    @volatile var lastMins: Array[Long] = Array.empty
    @volatile var lastEst = 0L
    val q = Changefeed.streamingKmv(mem.toDF().toDF("v"), "v", k = 64,
      (mins, est, _) => { lastMins = mins; lastEst = est })
    try {
      mem.addData(all.take(200): _*); q.processAllAvailable()
      mem.addData(all.drop(200): _*); q.processAllAvailable()
      // the fold across batches must equal the one-shot batch sketch
      val whole = graft.functions.Sketches.kmvMinima(
        all.map(Tuple1(_)).toDF("v"), "v", k = 64)
      assert(lastMins.sameElements(whole),
        s"streamed fold diverged from the batch sketch")
      assert(lastEst == graft.functions.Sketches.kmvEstimate(whole, 64))
      // sanity: the estimate is in the right neighborhood of 300
      assert(lastEst > 150L && lastEst < 600L, s"estimate $lastEst")
      // restart-rehydration: a new query seeded with the persisted
      // minima must continue the fold exactly (mergeable sketch)
      val mem2 = MemoryStream[Long]
      @volatile var rehydrated: Array[Long] = Array.empty
      val q2 = Changefeed.streamingKmv(mem2.toDF().toDF("v"), "v", k = 64,
        (mins, _, _) => rehydrated = mins, initial = lastMins)
      try {
        mem2.addData(0L until 10L: _*) // already-seen values: fold is stable
        q2.processAllAvailable()
        assert(rehydrated.sameElements(lastMins))
      } finally q2.stop()
    } finally q.stop()
  }

  test("streamed KMV: a custom salt folds compatibly with the batch sketch, nulls skip") {
    implicit val sqlCtx = spark.sqlContext
    // a batch sketch built with a custom salt must rehydrate into and
    // continue through the streaming fold — the mergeability contract
    // the salt parameter exists for; null values must skip the sketch
    // exactly as kmvMinima's COUNT(DISTINCT)-style batch fold does
    val seedVals = (0L until 150L).map(Tuple1(_)).toDF("v")
    val seeded = graft.functions.Sketches.kmvMinima(seedVals, "v", k = 32,
      salt = "custom")
    val mem = MemoryStream[java.lang.Long]
    @volatile var got: Array[Long] = Array.empty
    val q = Changefeed.streamingKmv(mem.toDF().toDF("v"), "v", k = 32,
      (mins, _, _) => got = mins, initial = seeded, salt = "custom")
    try {
      mem.addData((100L until 250L).map(java.lang.Long.valueOf) :+
        (null: java.lang.Long): _*)
      q.processAllAvailable()
      val whole = graft.functions.Sketches.kmvMinima(
        (0L until 250L).map(Tuple1(_)).toDF("v"), "v", k = 32, salt = "custom")
      assert(got.sameElements(whole),
        "salted stream fold must equal the salted whole-corpus sketch")
    } finally q.stop()
  }

  test("streamed as-of: a late quote cannot roll state back") {
    import graft.streaming.Changefeed.{AsofEvent, AsofMatch}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[AsofEvent]
    withMemorySink(Changefeed.streamingAsof(mem.toDS())) { (q, sink) =>
      mem.addData(AsofEvent(1L, 100L, 0, 0L, 5.0)); q.processAllAvailable()
      // batch 2 delivers an OLDER quote (contract violation) + a probe:
      // the probe must still see the ts=100 quote, not the stale ts=50
      mem.addData(AsofEvent(1L, 50L, 0, 0L, 9.0),
        AsofEvent(1L, 200L, 1, 42L, 0.0))
      q.processAllAvailable()
      val m = spark.table(sink).as[AsofMatch].collect()
        .find(_.id == 42L).get
      assert(m.matchedTs.contains(100L) && m.value.contains(5.0),
        s"late quote rolled the state back: $m")
    }
  }

  test("streamed range join attributes each batch against standing windows") {
    implicit val sqlCtx = spark.sqlContext
    val H = 3600000000000L
    val intervals = Seq(
      (10L, 1L, 5L * H, 14L * H),  // spans three 6 h buckets
      (11L, 1L, 8L * H, 9L * H),
      (12L, 2L, 0L, 6L * H),
    ).toDF("iv_id", "user_id", "s", "e")
    val pts = Seq(
      (100L, 1L, 5L * H), (101L, 1L, 8L * H), (102L, 1L, 13L * H),
      (103L, 1L, 14L * H), (104L, 2L, 3L * H), (105L, 2L, 7L * H),
    )
    val mem = MemoryStream[(Long, Long, Long)]
    val acc = scala.collection.concurrent.TrieMap[(Long, Long), Long]()
    val q = Changefeed.streamingRangeJoin(
      mem.toDF().toDF("p_id", "user_id", "ts"), intervals,
      "user_id", "ts", "s", "e", bucketNs = 6L * H,
      (out, _) => out.collect().foreach { r =>
        val k = (r.getAs[Long]("p_id"), r.getAs[Long]("iv_id"))
        acc(k) = acc.getOrElse(k, 0L) + 1L
      })
    try {
      // two batches — the standing side must not rebuild per trigger,
      // and no pair may arrive twice
      mem.addData(pts.take(3): _*); q.processAllAvailable()
      mem.addData(pts.drop(3): _*); q.processAllAvailable()
      val expect = rows(graft.functions.Events.rangeJoin(
          pts.toDF("p_id", "user_id", "ts"), intervals,
          "user_id", "ts", "s", "e", bucketNs = 6L * H)
        .select(col("p_id"), col("iv_id")))
        .map(r => (r.head.asInstanceOf[Long], r.last.asInstanceOf[Long])).toSet
      assert(acc.keySet == expect)
      assert(acc.values.forall(_ == 1L), s"duplicated pairs: $acc")
      assert(expect == Set((100L, 10L), (101L, 10L), (101L, 11L),
        (102L, 10L), (104L, 12L)))
    } finally q.stop()
  }

  test("streamed sessionization: batch parity, sessions continue across batches") {
    import graft.streaming.Changefeed.{SessCount, SessEvent}
    implicit val sqlCtx = spark.sqlContext
    // per user: 10 events, 10-min steps, a 45-min jump before i = 4 and
    // i = 8 → 3 sessions. Batch split at i = 2 and i = 6 puts both jumps
    // INSIDE batches and both batch boundaries INSIDE sessions — the
    // state must carry the open session across the trigger
    def ts(u: Long, i: Long): Long =
      (u * 1000000L + i * 600L + (i / 4L) * 2700L) * 1000000000L
    val evs = for { u <- 1L to 6L; i <- 0L until 10L } yield SessEvent(u, ts(u, i))
    val mem = MemoryStream[SessEvent]
    withMemorySink(Changefeed.streamingSessionize(mem.toDS())) { (q, sink) =>
      Seq(0L until 2L, 2L until 6L, 6L until 10L).foreach { r =>
        mem.addData((for { u <- 1L to 6L; i <- r } yield SessEvent(u, ts(u, i))): _*)
        q.processAllAvailable()
      }
      val finalStates = spark.table(sink).as[SessCount].collect()
        .groupBy(_.user_id).map { case (_, rs) => rs.maxBy(_.events) }
      // batch truth: the e1 window-lag sessionization on the same events
      val base = evs.toDF()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      val batch = rows(base.withColumn("prevTs", lag(col("ts"), 1).over(w))
        .withColumn("ns", when(col("prevTs").isNull ||
          col("ts") - col("prevTs") > 1800000000000L, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("events"), sum(col("ns")).as("sessions")))
        .map(r => r(0) -> (r(1), r(2))).toMap
      assert(finalStates.size == 6)
      finalStates.foreach { st =>
        assert((st.events, st.sessions) == batch(st.user_id),
          s"user ${st.user_id}: streamed (${st.events},${st.sessions}) vs batch ${batch(st.user_id)}")
      }
      assert(finalStates.forall(_.sessions == 3L))
    }
  }

  test("streamed as-of join: batch parity, latest quote carries across batches") {
    import graft.streaming.Changefeed.{AsofEvent, AsofMatch}
    implicit val sqlCtx = spark.sqlContext
    // per key: quotes at t = i*100, probes at t = i*100 + 50 (and one
    // probe BEFORE any quote). Batch split mid-stream puts a probe in a
    // later batch than its matching quote — state must carry the quote.
    def quote(k: Long, i: Long) = AsofEvent(k, i * 100L, 0, 0L, i * 10.0 + k)
    def probe(k: Long, i: Long) = AsofEvent(k, i * 100L + 50L, 1, k * 1000L + i, 0.0)
    val all = for { k <- 1L to 4L; i <- 0L until 6L; e <- Seq(quote(k, i), probe(k, i)) } yield e
    val early = (1L to 4L).map(k => AsofEvent(k, -5L, 1, k * 1000L + 999L, 0.0))
    val mem = MemoryStream[AsofEvent]
    withMemorySink(Changefeed.streamingAsof(mem.toDS())) { (q, sink) =>
      // batch 1: the early unmatched probes + i ∈ [0, 2); batch 2: [2, 4);
      // batch 3: [4, 6) — every split lands between a quote and probes
      // that still need it
      Seq(0L until 2L, 2L until 4L, 4L until 6L).zipWithIndex.foreach { case (r, bi) =>
        val batch = (for { k <- 1L to 4L; i <- r; e <- Seq(quote(k, i), probe(k, i)) } yield e) ++
          (if (bi == 0) early else Nil)
        mem.addData(batch: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table(sink).as[AsofMatch].collect()
        .map(m => m.id -> ((m.matchedTs, m.value))).toMap
      // batch truth: Events.asofJoin over the same rows as DataFrames
      val quotes = (all).filter(_.side == 0)
        .map(e => (e.key, e.ts, e.value)).toDF("key", "ts", "value")
      val probes = (all ++ early).filter(_.side == 1)
        .map(e => (e.id, e.key, e.ts)).toDF("id", "key", "ts")
      val batchOut = rows(graft.functions.Events
        .asofJoin(probes, quotes, "key", "ts", Seq("value"))
        .select(col("id"), col("matchedTs"), col("value")))
      assert(streamed.size == batchOut.size)
      batchOut.foreach { r =>
        val (mts, v) = streamed(r.head.asInstanceOf[Long])
        assert(mts == Option(r(1)) && v == Option(r(2)),
          s"probe ${r.head}: streamed ($mts,$v) vs batch (${r(1)},${r(2)})")
      }
    }
  }

  test("streamed budgeted mix: batch-1 parity, quota persists across batches") {
    import graft.functions.Shuffles
    import graft.streaming.Changefeed.{MixAdmit, MixDoc}
    implicit val sqlCtx = spark.sqlContext
    val budgets = Map("a" -> 200L, "b" -> 400L)
    val base = (1L to 300L).map(i => (i, if (i % 3 == 0) "a" else "b", 10L))
      .toDF("doc_id", "src", "tok")
    val docs = rows(base
      .withColumn("hkey", Shuffles.hashKey(col("doc_id"), "mix0"))
      .withColumn("shard", col("hkey") % 4))
      .map(r => MixDoc(r(0).asInstanceOf[Long], r(1).asInstanceOf[String],
        r(2).asInstanceOf[Long], r(3).asInstanceOf[Long], r(4).asInstanceOf[Long]))
    val mem = MemoryStream[MixDoc]
    withMemorySink(Changefeed.streamingBudgetedMix(mem.toDS(), budgets, nShards = 4)) { (q, sink) =>
      mem.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table(sink).as[MixAdmit].collect()
        .filter(_.keep).map(_.id).toSet
      // one batch holding the whole corpus = the batch op exactly
      val batchKept = rows(Shuffles.budgetedMix(base, "doc_id", "src", "tok",
          budgets, nShards = 4).filter(col("keep")).select(col("doc_id")))
        .map(_.head.asInstanceOf[Long]).toSet
      assert(streamed == batchKept && streamed.nonEmpty)
      // the spent counters survive into the next batch: quotas are long
      // exhausted, so late arrivals are refused (and an unbudgeted
      // source never admits)
      mem.addData(MixDoc(1001L, "a", 10L, 0L, 0L), MixDoc(1002L, "b", 10L, 0L, 1L),
        MixDoc(1003L, "c", 10L, 0L, 2L))
      q.processAllAvailable()
      val late = spark.table(sink).as[MixAdmit].collect()
        .filter(a => a.id >= 1001L)
      assert(late.length == 3 && late.forall(!_.keep))
    }
  }

  test("streamed temperature mix: group-whole batch split reproduces temperatureMixAlpha") {
    import graft.functions.Shuffles
    import graft.streaming.Changefeed.{MixAdmit, MixDoc}
    implicit val sqlCtx = spark.sqlContext
    // skewed sources so the α-flattening budgets differ per source
    val base = (1L to 240L).map(i =>
      (i, if (i % 4 == 0) "small" else "big", 10L + i % 7))
      .toDF("doc_id", "src", "tok")
    val docs = rows(base
      .withColumn("hkey", Shuffles.hashKey(col("doc_id"), "tmix0"))
      .withColumn("shard", col("hkey") % 3))
      .map(r => MixDoc(r(0).asInstanceOf[Long], r(1).asInstanceOf[String],
        r(2).asInstanceOf[Long], r(3).asInstanceOf[Long], r(4).asInstanceOf[Long]))
    val totals = docs.groupBy(_.src).map { case (s, ds) => s -> ds.map(_.tok).sum }
    val mem = MemoryStream[MixDoc]
    withMemorySink(Changefeed.streamingTemperatureMix(mem.toDS(), totals,
        totalBudget = 900L, nShards = 3, p = 3, q = 10)) { (q, sink) =>
      // MULTI-batch feed split along (src, shard) group boundaries — each
      // ledger group arrives whole, in three separate triggers
      val groups = docs.groupBy(d => (d.src, d.shard)).values.toSeq
      groups.zipWithIndex.foreach { case (g, i) =>
        mem.addData(g: _*)
        if (i % 2 == 1) q.processAllAvailable()
      }
      q.processAllAvailable()
      val streamed = spark.table(sink).as[MixAdmit].collect()
        .filter(_.keep).map(_.id).toSet
      val batchKept = rows(Shuffles.temperatureMixAlpha(base, "doc_id", "src",
          "tok", totalBudget = 900L, nShards = 3, p = 3, q = 10, salt = "tmix0")
        .filter(col("keep")).select(col("doc_id")))
        .map(_.head.asInstanceOf[Long]).toSet
      assert(streamed == batchKept && streamed.nonEmpty,
        s"streamed ${streamed.size} vs batch ${batchKept.size}")
      // both sources admit: the α-budget keeps the small source alive
      val srcs = spark.table(sink).as[MixAdmit].collect()
        .filter(_.keep).map(_.src).toSet
      assert(srcs == Set("big", "small"))
    }
  }

  test("streamed epoch mix: whole epochs are arithmetic, remainder rides the ledger — batch parity") {
    import graft.functions.Shuffles
    import graft.streaming.Changefeed.{EpochAdmit, MixDoc}
    implicit val sqlCtx = spark.sqlContext
    val base = ((1L to 30L).map(i => (i, "a", 10L)) ++
      (31L to 50L).map(i => (i, "b", 10L)))
      .toDF("doc_id", "src", "tok")
    val budgets = Map("a" -> 750L, "b" -> 40L) // a: 2 epochs + 150 rem
    val docs = rows(base
      .withColumn("hkey", Shuffles.hashKey(col("doc_id"), "epochmix0"))
      .withColumn("shard", col("hkey") % 2))
      .map(r => MixDoc(r(0).asInstanceOf[Long], r(1).asInstanceOf[String],
        r(2).asInstanceOf[Long], r(3).asInstanceOf[Long], r(4).asInstanceOf[Long]))
    val totals = docs.groupBy(_.src).map { case (s, ds) => s -> ds.map(_.tok).sum }
    val mem = MemoryStream[MixDoc]
    withMemorySink(Changefeed.streamingEpochMix(mem.toDS(), totals, budgets, nShards = 2)) { (q, sink) =>
      // two triggers, split on a (src, shard) group boundary
      val (g1, g2) = docs.partition(d => d.src == "a")
      mem.addData(g1: _*); q.processAllAvailable()
      mem.addData(g2: _*); q.processAllAvailable()
      val streamed = spark.table(sink).as[EpochAdmit].collect()
      val batch = rows(Shuffles.epochMix(base, "doc_id", "src", "tok",
          budgets, nShards = 2)
        .select(col("doc_id"), col("keep"), col("fullEpochs"), col("totalEpochs")))
        .map(r => r(0).asInstanceOf[Long] ->
          ((r(1).asInstanceOf[Boolean], r(2).asInstanceOf[Long],
            r(3).asInstanceOf[Long]))).toMap
      assert(streamed.length == batch.size)
      streamed.foreach { a =>
        val (k, fe, te) = batch(a.id)
        assert(a.keep == k && a.fullEpochs == fe && a.totalEpochs == te,
          s"doc ${a.id}: streamed (${a.keep},${a.fullEpochs},${a.totalEpochs}) vs batch ($k,$fe,$te)")
      }
      assert(streamed.filter(_.src == "a").forall(_.fullEpochs == 2L))
    }
  }

  test("streamed budgeted mix: spent quota survives a kill-and-resume") {
    import graft.streaming.Changefeed.{MixAdmit, MixDoc}
    implicit val sqlCtx = spark.sqlContext
    // budget 100 over 2 shards → 50 tokens per (source, shard); docs are
    // 10 tokens, so a shard admits while spent-before < 50
    val budgets = Map("a" -> 100L)
    val ckpt = graft.core.Caching.scratchDir("mixckpt").toString
    val mem = MemoryStream[MixDoc]
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[MixAdmit]()
    def start() = Changefeed.streamingBudgetedMix(mem.toDS(), budgets, nShards = 2)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[MixAdmit], _: Long) =>
        b.collect().foreach(emitted.add)
      }
      .start()
    def kept = {
      import scala.jdk.CollectionConverters._
      emitted.iterator().asScala.filter(_.keep).map(_.id).toSet
    }
    val q1 = start()
    try {
      // shard 0 spends 30 of 50; shard 1 spends its full 50 (6th refused)
      mem.addData((1L to 3L).map(i => MixDoc(i, "a", 10L, i, 0L)) ++
        (11L to 16L).map(i => MixDoc(i, "a", 10L, i, 1L)): _*)
      q1.processAllAvailable()
      assert(kept == Set(1L, 2L, 3L, 11L, 12L, 13L, 14L, 15L))
    } finally q1.stop() // kill
    val q2 = start()    // resume from the checkpointed state store
    try {
      mem.addData((21L to 24L).map(i => MixDoc(i, "a", 10L, i, 0L)) :+
        MixDoc(31L, "a", 10L, 31L, 1L): _*)
      q2.processAllAvailable()
      // shard 0 recovered spent=30: admits 21 (→40) and 22 (→50), refuses
      // 23/24; shard 1 recovered spent=50: refuses 31 outright. A fresh
      // (lost) state would have admitted 23, 24 and 31.
      assert(kept == Set(1L, 2L, 3L, 11L, 12L, 13L, 14L, 15L, 21L, 22L))
    } finally q2.stop()
  }

  test("streamed incremental LSH: late, out-of-order deliveries classify identically") {
    implicit val sqlCtx = spark.sqlContext
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely here now friends"),
    ).toDF("doc_id", "text")
    val d10 = (10L, "the quick brown fox jumps over the lazy dog")
    val d11 = (11L, "unrelated payload with its own vocabulary tokens throughout")
    // batch-path expectation FIRST (its output frame stays persisted per
    // the Caching contract), then baseline the cache census so the
    // stream's own signature cache release is observable after stop()
    val expect = graft.functions.Dedup.incrementalLsh(existing,
        Seq(d10, d11).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.get(2)))).toMap
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val mem = MemoryStream[(Long, String)]
    val perBatch = scala.collection.concurrent.TrieMap[Long, Map[Long, (String, Any)]]()
    val q = Changefeed.streamingIncrementalLsh(
      mem.toDF().toDF("doc_id", "text"), existing, "doc_id", "text",
      (out, bid) => perBatch(bid) = out.collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.get(2)))).toMap)
    try {
      mem.addData(d11) // the "later" doc arrives first
      q.processAllAvailable()
      mem.addData(d10) // out-of-order arrival
      q.processAllAvailable()
      mem.addData(d10) // duplicate late re-delivery
      q.processAllAvailable()
      // every delivery classifies exactly as the one-shot batch op,
      // regardless of arrival order or batch boundaries...
      assert(perBatch(0L) == Map(11L -> expect(11L)))
      assert(perBatch(1L) == Map(10L -> expect(10L)))
      // ...and a re-delivery replays idempotently
      assert(perBatch(2L) == perBatch(1L))
    } finally q.stop()
    // the termination listener releases the corpus signature cache
    // (async event — poll briefly)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (spark.sparkContext.getPersistentRDDs.size > cachedBefore &&
      System.nanoTime() < deadline) Thread.sleep(100)
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore)
  }

  test("streamed ANN ingest probes the standing IVF-PQ index per batch") {
    import graft.functions.Vectors
    implicit val sqlCtx = spark.sqlContext
    // standing index built once from the static corpus
    val standing = (0 until 24).map { i =>
      val v = Array.fill(8)(0.25f * ((i * 3 + 1) % 5)); v(i % 4) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cents = Vectors.kmeansCentroids(standing, 2, 1)
    val resid = Vectors.ivfResiduals(standing, cents)
    val residEmb = resid.select(col("vec_id"), col("embedding"))
    val cb = Vectors.pqCodebook(residEmb, m = 2, dsub = 4, kCode = 2, skip = 2)
    val codes = Vectors.pqCodes(residEmb, cb, dsub = 4)
      .join(resid.select(col("vec_id"), col("cellId")), Seq("vec_id"))
      .cache()
    // arriving batch: twins of standing vectors 5 and 9, plus a fresh one
    val arrivals = Seq(
      (105L, { val v = Array.fill(8)(0.25f * ((5 * 3 + 1) % 5)); v(1) = 1.0f; v }),
      (109L, { val v = Array.fill(8)(0.25f * ((9 * 3 + 1) % 5)); v(1) = 1.0f; v }),
      (110L, Array.fill(8)(0.9f)),
    )
    val mem = MemoryStream[(Long, Array[Float])]
    val acc = scala.collection.concurrent.TrieMap[(Long, Int), Long]()
    val q = Changefeed.streamingAnnIngest(
      mem.toDF().toDF("vec_id", "embedding"), codes, cb, cents,
      dsub = 4, nProbe = 1, k = 2,
      (out, _) => out.collect().foreach(r =>
        acc((r.getLong(0), r.getInt(3))) = r.getLong(1)))
    try {
      mem.addData(arrivals: _*)
      q.processAllAvailable()
      // parity with the batch probe on the same arrivals
      val expect = Vectors.ivfPqProbe(codes, cb, cents,
          arrivals.toDF("vec_id", "embedding"), dsub = 4, nProbe = 1, k = 2)
        .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
      assert(acc.toMap == expect && acc.nonEmpty)
    } finally q.stop()
  }

  test("pending receipts: streamed micro-batch folds equal one batch application") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    val seed = Seq((1L, 3L, t0), (2L, 2L, t0), (3L, 1L, t0))
      .toDF("blockId", "inFlight", "since")
    // receipts split across two micro-batches, including a block that
    // drains in batch 1 and receives a late (no-op) receipt in batch 2
    val b1 = Seq(1L, 2L, 3L)
    val b2 = Seq(1L, 1L, 3L)
    val standing = new java.util.concurrent.atomic.AtomicReference(seed)
    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("blockId").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        standing.set(graft.analytics.Replication
          .pendingAfterReceipts(standing.get(), batch).localCheckpoint())
      }
      .start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = standing.get().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batched = graft.analytics.Replication
        .pendingAfterReceipts(seed, (b1 ++ b2).toDF("blockId")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // the decrement fold is associative: drop-at-zero commutes with
      // batch splitting because a drained entry ignores late receipts
      // block 1 drains exactly (3 receipts), block 3 over-receives (late
      // no-op), block 2 keeps one in flight
      assert(streamed == batched && streamed == Set((2L, 1L)))
    } finally q.stop()
  }

  test("e4_stream_window_parity fails on a missing input instead of streaming nothing") {
    val dir = graft.core.Caching.scratchDir("e4-missing").resolve("no_such_sf").toString
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("e4_stream_window_parity")(spark, dir)
    }
    assert(e.getMessage.contains(s"$dir/events.parquet"), e.getMessage)
    assert(spark.streams.active.isEmpty)
  }

  test("no memory sink outlives its test") {
    assert(sinks.filter(spark.catalog.tableExists).isEmpty, sinks)
  }
}
