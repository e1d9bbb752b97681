package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Streaming/incremental operators (SURVEY §2.6, §3.3): the op-queue
  * changefeed with idempotent latest-wins apply, the heartbeat command
  * dequeue and the stream twins of the gated batch operators —
  * Structured Streaming throughout (no DStreams).
  *
  * Scale notes: the changefeed state is partitioned by key
  * (flatMapGroupsWithState shuffles once on the grouping key, mirroring
  * the reference's per-key operation queue ordering,
  * A/distributed/DistributedOperationQueue.java:33-110); the foreachBatch
  * twins join each micro-batch against a pinned standing frame, so
  * per-trigger cost is O(batch), not O(table).
  */
object Changefeed {

  /** One row-op from the distributed operation queue
    * (A/distributed/DistributedOperation.java:30-95): op ∈
    * INSERT|UPDATE|DELETE; DELETE carries a negative version. */
  final case class Op(key: Long, op: String, payload: Long, version: Long)

  /** Current state of one key after replay. */
  final case class KeyState(key: Long, payload: Long, version: Long, live: Boolean)

  /** D1-D4/R9 as a stream: keep, per key, the op with max abs(version)
    * (later-abs wins; on equal abs the positive/newer op wins — identical
    * tie-break to StateStore.latestWins). Emits the key's state whenever
    * it changes. Out-of-order and duplicate deliveries are absorbed. */
  def applyOps(spark: SparkSession, ops: Dataset[Op]): Dataset[KeyState] = {
    import spark.implicits._
    ops.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: Long, batch: Iterator[Op], state: GroupState[KeyState]) => {
          implicit val ord: Ordering[(Long, Long)] = Ordering.Tuple2(Ordering.Long, Ordering.Long)
          val candidates = state.getOption.map(s =>
            Op(s.key, if (s.live) "UPSERT" else "DELETE", s.payload, s.version)) ++ batch
          val newest = candidates.maxBy(o => (math.abs(o.version), o.version))
          val ns = KeyState(key, newest.payload, newest.version, newest.version > 0)
          if (state.getOption.map(_.version).contains(ns.version)) Iterator.empty
          else { state.update(ns); Iterator.single(ns) }
        })
  }

  private val memorySinks = new java.util.concurrent.atomic.AtomicLong()

  /** Drain `stream` once (AvailableNow) into a memory sink and return
    * `read` of the sink's rows. The sink is named per call and its view
    * is dropped once `read`'s frame is analysed, so two calls never
    * share a sink and the session catalog keeps no view behind. */
  def drainToMemory(stream: DataFrame, outputMode: String, checkpoint: String)
                   (read: DataFrame => DataFrame): DataFrame = {
    val s = stream.sparkSession
    val sinkName = s"graft_sink_${memorySinks.incrementAndGet()}"
    val query = stream.writeStream.format("memory").queryName(sinkName)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try { query.awaitTermination(); read(s.table(sinkName)) }
    finally s.catalog.dropTempView(sinkName)
  }

  /** N9 command dequeue (handleHeartbeat, FSNamesystem.java:1801-1935):
    * each heartbeat micro-batch picks up the pending replication /
    * invalidation commands for the reporting nodes, CAPPED per heartbeat
    * the way the reference caps them (:1841-1846): at most
    * maxReplicationStreams − xmitsInProgress replication commands (the
    * heartbeat may carry an `xmitsInProgress` column; absent means 0)
    * and at most blockInvalidateLimit invalidations, in blockId order —
    * a node with a deep queue drains it across beats instead of being
    * handed unbounded work. `workFor` supplies the current per-datanode
    * work queues (N10 output) with (datanodeId, blockId, command). */
  def heartbeatCommands(heartbeats: DataFrame, workFor: () => DataFrame,
                        sink: (Long, DataFrame) => Unit,
                        maxReplicationStreams: Int = 2,
                        blockInvalidateLimit: Int = 100): StreamingQuery =
    heartbeats.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          // ONE capping definition shared with the batch/gated form —
          // stream/batch parity rides on Replication.capCommands
          sink(id, graft.analytics.Replication.capCommands(
            workFor(), batch, maxReplicationStreams, blockInvalidateLimit))
        }
      }
      .start()

  /** Start a streaming query over `stream` that hands `sink` each
    * micro-batch's `classify(pinned, batch)`, where `pinned` is the
    * PINNED `standing` frame, releasing the cache exactly once when THIS run
    * terminates — repeated start/stop in one session (tests, restarts)
    * must not accumulate corpus-sized cached frames. Termination events
    * are delivered asynchronously on the listener bus, possibly BEFORE
    * the caller thread has recorded the query id — so the listener
    * records every termination it sees, and whichever side observes
    * both facts (id known + that id terminated) performs the one
    * release. Keyed by runId, not id: a query id is stable across
    * checkpoint restarts, so a late event from a prior run could
    * otherwise release a live successor's cache — runId is unique per
    * run. */
  private def withStandingFrame(standing: DataFrame, stream: DataFrame,
                                sink: (DataFrame, Long) => Unit)
                               (classify: (DataFrame, DataFrame) => DataFrame): StreamingQuery = {
    val session = stream.sparkSession
    val pinned = standing.persist()
    pinned.count() // materialize before the first batch arrives
    val queryRunId = new java.util.concurrent.atomic.AtomicReference[java.util.UUID]
    val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    def releaseCache(): Unit =
      if (released.compareAndSet(false, true)) pinned.unpersist(blocking = false)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
        terminated.add(e.runId)
        if (e.runId == queryRunId.get) {
          releaseCache()
          session.streams.removeListener(this)
        }
      }
    }
    session.streams.addListener(listener)
    val query =
      try {
        stream.writeStream
          .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
            sink(classify(pinned, batch.toDF()), batchId)
          }
          .start()
      } catch {
        case e: Throwable =>
          releaseCache()
          session.streams.removeListener(listener)
          throw e
      }
    queryRunId.set(query.runId)
    if (terminated.contains(query.runId)) { // terminated before the id landed
      releaseCache()
      session.streams.removeListener(listener)
    }
    query
  }

  /** Streaming NEAR-dup classification: the streaming twin of
    * [[graft.functions.Dedup.incrementalLsh]]. The standing corpus's
    * banded signature frame is computed ONCE, up front, and persisted
    * (in production: the maintained banded signature table, reloaded per
    * restart) — foreachBatch re-executes the static side's plan every
    * micro-batch, so handing it the raw corpus would re-tokenize and
    * re-minhash the whole standing corpus per batch. With the persisted
    * signature frame, each batch pays only its own signature map work +
    * the band join, and state never grows with the stream. The
    * classified rows land in `sink` per batch (the caller's parquet
    * append / index-maintenance hook). */
  def streamingIncrementalLsh(docs: DataFrame, existing: DataFrame,
                              idCol: String, textCol: String,
                              sink: (DataFrame, Long) => Unit,
                              minEst: Double = 0.5): StreamingQuery = {
    import graft.functions.Dedup
    val exSig = Dedup.withBands(Dedup.minhashSignatures(existing, idCol, textCol))
    withStandingFrame(exSig, docs, sink) { (pinned, batch) =>
      Dedup.incrementalLshAgainst(pinned, batch, idCol, textCol, minEst = minEst)
    }
  }

  /** Streaming twin of [[graft.functions.Dedup.incrementalSpans]]: each
    * micro-batch's duplicated spans classify against the PINNED standing
    * gram index (batch-internal repetition included) — O(batch) work per
    * trigger against a static structure, no streaming state. */
  def streamingIncrementalSpans(docs: DataFrame, existing: DataFrame,
                                idCol: String, textCol: String,
                                sink: (DataFrame, Long) => Unit,
                                k: Int = 8): StreamingQuery = {
    import graft.functions.Dedup
    val exIdx = Dedup.spanGramIndex(existing, idCol, textCol, k)
    withStandingFrame(exIdx, docs, sink) { (pinned, batch) =>
      Dedup.incrementalSpansAgainst(pinned, batch, idCol, textCol, k)
    }
  }

  /** Streaming LM quality scoring: the streaming twin of
    * [[graft.functions.TextFunctions.bigramBackoff]]. The trained
    * stupid-backoff model ([[graft.functions.TextFunctions.bigramModel]]
    * — ONE tall vocabulary-bounded frame) is pinned once; each
    * micro-batch of arriving documents pays only its own bigram melt +
    * broadcast model joins + a batch-keyed aggregate — O(batch) per
    * trigger, no streaming state. This is the CCNet ingest shape at
    * 100 TB: score every incoming page against the standing reference
    * model, route by quality bucket downstream. `sink` receives each
    * batch's (id, nBigrams, scoreSum, nBackoff, meanScore). */
  def streamingLmScore(docs: DataFrame, train: DataFrame, idCol: String,
                       textCol: String,
                       sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import graft.functions.TextFunctions
    val model = TextFunctions.bigramModel(train, textCol)
    withStandingFrame(model, docs, sink) { (pinned, batch) =>
      TextFunctions.bigramScoreAgainst(pinned, batch, idCol, textCol)
    }
  }

  /** Streaming model-based quality filtering: the streaming twin of
    * [[graft.functions.TextFunctions.nbClassifier]]. The NB model
    * ([[graft.functions.TextFunctions.nbTrain]] — a constant-size
    * hashed-feature table, ≤ 4096 rows) is pinned once; each micro-batch
    * of arriving documents pays its own feature melt + broadcast model
    * join + a batch-keyed aggregate — O(batch) per trigger, no streaming
    * state. The DCLM/FineWeb ingest shape: classify every incoming page
    * against the trained quality model, keep/drop by sign. `sink`
    * receives each batch's (id, nFeats, score, keep). */
  def streamingQualityScore(docs: DataFrame, pos: DataFrame, neg: DataFrame,
                            idCol: String, textCol: String,
                            sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import graft.functions.TextFunctions
    val model = TextFunctions.nbTrain(pos, neg, idCol, textCol)
    withStandingFrame(model, docs, sink) { (pinned, batch) =>
      TextFunctions.nbScoreAgainst(pinned, batch, idCol, textCol)
    }
  }

  /** Streaming language ID: the twin of
    * [[graft.functions.TextFunctions.langIdAgainst]] — the k-class
    * hashed-NB model trains once from the labeled slices and pins; each
    * micro-batch pays its own feature melt + broadcast pivot join + ONE
    * batch-keyed aggregate carrying all k class sums — O(batch) per
    * trigger, no streaming state. The crawl-ingest shape: route every
    * arriving page by language before the per-language pipelines. */
  def streamingLangId(docs: DataFrame, classes: Seq[(String, DataFrame)],
                      idCol: String, textCol: String,
                      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import graft.functions.TextFunctions
    val model = TextFunctions.nbTrainMulti(classes, idCol, textCol)
    withStandingFrame(model, docs, sink) { (pinned, batch) =>
      TextFunctions.langIdAgainst(pinned, batch, idCol, textCol)
    }
  }

  /** Streaming span decontamination: the twin of
    * [[graft.functions.Dedup.decontaminateSpans]] — the crawl-ingest
    * shape: the eval corpus's DISTINCT k-gram index
    * ([[graft.functions.Dedup.spanEvalIndex]], benchmark-sized) pins
    * once; each micro-batch of arriving training docs pays its own gram
    * melt + one map-side left_semi probe against the broadcast index,
    * and since the cut/keep/fingerprint algebra is per-doc, the union of
    * batch outputs equals the batch operator on the union — O(batch) per
    * trigger, no streaming state. */
  def streamingDecontaminate(docs: DataFrame, evalDocs: DataFrame,
                             idCol: String, textCol: String,
                             k: Int = 8, margin: Int = 8,
                             sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import graft.functions.Dedup
    val idx = Dedup.spanEvalIndex(evalDocs, idCol, textCol, k)
    withStandingFrame(idx, docs, sink) { (pinned, batch) =>
      Dedup.decontaminateSpansAgainst(pinned, batch, idCol, textCol, k, margin)
    }
  }

  /** Streaming retrieval serve: the streaming twin of
    * [[graft.functions.TextFunctions.bm25TopK]] against a CALLER-PROVIDED
    * elided posting index, pinned once. Each micro-batch of arriving
    * query docs pays only its own term melt + the posting join + a
    * batch-bounded rank window: O(batch × matched postings) per trigger,
    * no streaming state. Per-query top-k is batch-independent, so the
    * streamed union lands on the batch operator verbatim.
    *
    * The maintained-index serve split: production pins the index
    * derived from the posting store
    * ([[graft.functions.TextFunctions.bm25IndexAppend]] after the last
    * ingest batch), never a from-scratch build per serve session. The
    * t39_stream_parity gate drives THIS path with an incrementally
    * maintained index and still lands on the batch oracle verbatim,
    * because incremental == rebuild is itself gated (t42). */
  def streamingBm25ServeIndex(queries: DataFrame, index: DataFrame,
                              idCol: String, textCol: String, k: Int,
                              sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import graft.functions.TextFunctions
    withStandingFrame(index, queries, sink) { (pinned, batch) =>
      TextFunctions.bm25TopKAgainst(pinned, batch, idCol, textCol, k)
    }
  }

  /** Streaming posting-store maintenance: the ingest twin of
    * [[graft.functions.TextFunctions.bm25PostingsAppend]]. Each
    * micro-batch computes its [[graft.functions.TextFunctions.
    * bm25PostingsDelta]] against the CURRENT store dir (re-read per
    * trigger — the store grows between triggers, so pinning would
    * break the replay discipline) and appends exactly those rows as
    * new files — the O(batch) append-only write the r18 delta split
    * exists for; standing rows never rewrite. First-seen-wins holds
    * across triggers by construction: a re-delivered doc id is in the
    * re-read store, so its delta is empty (in-batch id uniqueness is
    * the source contract, as in the batch path). `sink` observes each
    * trigger's WRITTEN delta (already materialized — a lazy frame
    * would re-derive against the grown store and read empty). Serving
    * is the separate [[streamingBm25ServeIndex]] over
    * [[graft.functions.TextFunctions.bm25IndexFrom]] of this store —
    * incremental == rebuild is the t42 law, streamed in
    * StreamingSpec.
    *
    * The append is WHOLE-BATCH-ATOMIC (ADVICE r18): a direct
    * `mode("append")` into storeDir exposes partial task files on a
    * mid-commit crash — a doc with SOME postings standing makes the
    * replayed trigger's delta drop that doc whole, permanently
    * persisting the partial rows and silently breaking the t42
    * incremental==rebuild law. So each trigger's delta is STAGED: the
    * O(batch) rows are written did-SORTED into ONE parquet file in a
    * sibling `.stage-<batchId>` dir (overwritten on replay, so an
    * orphaned stage from a crashed attempt self-heals), then that
    * single file is renamed into storeDir — a one-file POSIX/HDFS
    * rename, atomic, so the store only ever holds whole deltas. The
    * rename is GUARDED on the destination: a replayed trigger whose
    * delta file already committed recomputes an EMPTY delta (its docs
    * are standing), and an unguarded rename would replace the
    * committed postings with that empty file (POSIX rename clobbers
    * an existing target), silently losing the batch — the exact loss
    * the staging exists to prevent. With the guard, replay-after-
    * commit skips the append and the committed file stands. The
    * did-sort also keeps the appended file's row groups did-narrow, so
    * bm25PostingsDelta's keyPrune'd id probe keeps pruning row groups
    * as triggers accumulate (ADVICE r18's other half). Assumes storeDir
    * and its parent live on a rename-capable filesystem — the standard
    * Spark-on-HDFS commit assumption this helper makes explicit.
    *
    * `statsDir` (r19): when set, each trigger also folds its delta
    * into the maintained serve-stats store
    * ([[graft.core.Scale.appendStatsStore]] — O(batch + vocab)), so
    * the SERVE-index refresh after an append is
    * [[graft.functions.TextFunctions.bm25IndexFromStats]] over the
    * maintained triple instead of the O(store) re-aggregate — the
    * write side of the maintained index is then O(batch) end-to-end.
    * The fold is crash-safe in BOTH directions: it runs after the
    * store commit at version batchId + 1, sourcing its rows from the
    * store's committed `delta-<batchId>.parquet` — so a crash between
    * store commit and fold replays the trigger, whose recomputed delta
    * is empty (docs now standing) but whose stats fold re-reads the
    * committed file and still lands; and a crash after the fold
    * replays into appendStatsStore's per-version no-op, so stats never
    * double-count. */
  def streamingBm25Ingest(docs: DataFrame, storeDir: String,
                          idCol: String, textCol: String,
                          sink: (DataFrame, Long) => Unit,
                          statsDir: Option[String] = None): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val standing = spark.read.parquet(storeDir)
        val delta = graft.functions.TextFunctions
          .bm25PostingsDelta(standing, batch.toDF(), idCol, textCol)
          .localCheckpoint()
        val dest = java.nio.file.Paths.get(storeDir, s"delta-$batchId.parquet")
        if (!java.nio.file.Files.exists(dest)) {
          val stage = s"$storeDir.stage-$batchId"
          delta.repartition(1).sortWithinPartitions("did")
            .write.mode("overwrite").parquet(stage)
          val parts = Option(new java.io.File(stage).listFiles()).toSeq.flatten
            .filter(f => f.getName.startsWith("part-") &&
              f.getName.endsWith(".parquet"))
          require(parts.size <= 1,
            s"staged delta must be one file for an atomic append, got ${parts.size}")
          parts.foreach { f =>
            java.nio.file.Files.move(f.toPath, dest,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
          graft.core.Caching.deleteRecursively(new java.io.File(stage))
        }
        statsDir.foreach { d =>
          // fold from the COMMITTED file, not the in-memory delta: a
          // replayed trigger's recomputed delta is empty but the file
          // holds the batch's true rows (the fold itself is a
          // per-version no-op when already applied)
          val rows = if (java.nio.file.Files.exists(dest))
            spark.read.parquet(dest.toString)
            else delta // genuinely-empty delta: nothing was committed
          graft.core.Scale.appendStatsStore(spark, d, rows, batchId + 1)
        }
        sink(delta, batchId)
      }
      .start()

  /** Streaming asset-ingest dedup: the streaming twin of
    * [[graft.multimodal.Multimodal.payloadDedupAgainst]]. The standing
    * corpus's asset index ([[graft.multimodal.Multimodal.payloadIndex]]
    * — whole-payload + aligned chunk hashes as one tall frame) is
    * pinned once; each micro-batch of arriving media classifies
    * exact_dup / near_dup / unique with its own chunk melt + equi-joins
    * against the index — O(batch) per trigger, no streaming state. */
  def streamingPayloadDedup(media: DataFrame, standing: DataFrame,
                            idCol: String,
                            sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import graft.multimodal.Multimodal
    val idx = Multimodal.payloadIndex(standing, idCol)
    withStandingFrame(idx, media, sink) { (pinned, batch) =>
      Multimodal.payloadDedupAgainst(pinned, batch, idCol)
    }
  }

  /** Streaming perceptual-ingest dedup: the streaming twin of
    * [[graft.multimodal.Multimodal.phashNearDupsAgainst]]. The standing
    * corpus's dHash index ([[graft.multimodal.Multimodal.phashIndex]] —
    * one 64-bit hash per asset) is pinned once; each micro-batch of
    * arriving media classifies exact_phash / near_dup / unique with its
    * own grid+hash melt and bucket-local band probes — O(batch) per
    * trigger, no streaming state. */
  def streamingPhashDedup(media: DataFrame, standing: DataFrame,
                          idCol: String,
                          sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import graft.multimodal.Multimodal
    val idx = Multimodal.phashIndex(standing, idCol)
    withStandingFrame(idx, media, sink) { (pinned, batch) =>
      Multimodal.phashNearDupsAgainst(pinned, batch, idCol)
    }
  }

  /** Streaming ANN ingest: the streaming twin of
    * [[graft.functions.Vectors.ivfPqSearch]]'s incremental split
    * (sim11). Each micro-batch of arriving vectors probes the STANDING
    * IVF-PQ index — prebuilt codes table + broadcast-sized codebook and
    * centroid frames, all static — so per batch the work is the batch's
    * own cell ranking + residual LUT + one codes-table scan, O(batch)
    * against the standing structure with no streaming state at all.
    * `sink` receives each batch's (qid, nid, adcDist, rank) — the
    * caller's near-dup gate / index-append hook (appending the batch's
    * own codes to the index is the same [[Vectors.pqCodes]] call the
    * batch path uses). */
  def streamingAnnIngest(vectors: DataFrame, codes: DataFrame,
                         codebook: DataFrame, centroids: DataFrame,
                         dsub: Int, nProbe: Int, k: Int,
                         sink: (DataFrame, Long) => Unit): StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val out = graft.functions.Vectors.ivfPqProbe(
          codes, codebook, centroids, batch.toDF(), dsub, nProbe, k)
        sink(out, batchId)
      }
      .start()

  /** One event for the streaming sessionizer (ts in epoch nanos). */
  final case class SessEvent(user_id: Long, ts: Long)

  /** Per-user sessionizer state/output: running event and session counts
    * plus the last event time (the open session's edge). */
  final case class SessCount(user_id: Long, events: Long, sessions: Long,
                             lastTs: Long)

  /** Streaming gap sessionization: the STATEFUL twin of e1 — per-user
    * (lastTs, counts) lives in mapGroupsWithState, so a session spanning
    * micro-batches is continued, not re-opened, and each user's state is
    * O(1) regardless of stream length. Within a batch events process in
    * ts order; across batches the caller feeds time-ordered triggers
    * (the usual ingest contract — a watermark-sorted source). Feeding
    * the whole corpus through in ANY batch split reproduces the batch
    * window-lag sessionization exactly (asserted in StreamingSpec). */
  def streamingSessionize(events: Dataset[SessEvent],
                          gapNs: Long = 1800000000000L): Dataset[SessCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (uid: Long, batch: Iterator[SessEvent], state: GroupState[SessCount]) => {
          var st = state.getOption.getOrElse(SessCount(uid, 0L, 0L, Long.MinValue))
          batch.toSeq.sortBy(_.ts).foreach { e =>
            val newSession = st.lastTs == Long.MinValue || e.ts - st.lastTs > gapNs
            st = SessCount(uid, st.events + 1,
              st.sessions + (if (newSession) 1L else 0L), e.ts)
          }
          state.update(st)
          st
        })
  }

  /** Streaming range join: each micro-batch of arriving points
    * (key, ts, …) is attributed against the STANDING interval table
    * (campaign/session/maintenance windows) via the same bucketized
    * equi-join as [[graft.functions.Events.rangeJoin]] — the pre-bucketed
    * interval frame is built ONCE and pinned (foreachBatch re-executes
    * the static side's plan per trigger, so handing it raw intervals
    * would re-explode the whole standing table every batch). Per batch
    * the work is the batch's own bucket keying + the bucket-local join:
    * O(batch), no streaming state. `sink` receives each batch's matched
    * pairs. */
  def streamingRangeJoin(points: DataFrame, intervals: DataFrame,
                         key: String, ts: String, start: String, end: String,
                         bucketNs: Long,
                         sink: (DataFrame, Long) => Unit): StreamingQuery = {
    require(bucketNs > 0, "bucketNs must be positive")
    // the ONE bucket definition the batch operators use — parity with
    // Events.rangeJoin depends on byte-identical bucketization
    val bucketed = graft.functions.Events.bucketized(
      intervals, start, end, bucketNs)
    withStandingFrame(bucketed, points, sink) { (pinned, batch) =>
      graft.functions.Events.probeJoin(batch, pinned, key, ts, start, end, bucketNs)
    }
  }

  /** Streaming distinct-cardinality via the mergeable KMV sketch: each
    * micro-batch aggregates its OWN bottom-k (the bounded typed
    * Aggregator — ≤ k longs per partition), which then folds into the
    * standing k-long sketch on the driver. State is k longs TOTAL for
    * an unbounded stream — the streaming COUNT(DISTINCT) problem
    * without keeping distinct values anywhere. `sink` receives the
    * running merged minima + the running estimate per batch.
    *
    * The running sketch is DRIVER state, not checkpointed streaming
    * state (unlike the flatMapGroupsWithState twins): after a
    * checkpoint restart the committed pre-restart batches are NOT
    * replayed, so a bare restart resets the count. Callers using a
    * checkpoint must persist the sink's last minima and rehydrate via
    * `initial` — the sketch is mergeable, so the fold continues
    * exactly. */
  def streamingKmv(values: DataFrame, valueCol: String, k: Int,
                   sink: (Array[Long], Long, Long) => Unit,
                   initial: Array[Long] = Array.emptyLongArray,
                   salt: String = "kmv"): StreamingQuery = {
    val standing = new java.util.concurrent.atomic.AtomicReference[Array[Long]](
      initial)
    val agg = new graft.functions.Sketches.KMinValues(k)
    values.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        import batch.sparkSession.implicits._
        // nulls skip the sketch exactly as kmvMinima's batch fold does —
        // a null value hashes to a null hv and would abort the
        // non-nullable typed aggregation, killing the stream mid-batch
        val batchMins = batch.toDF()
          .filter(col(valueCol).isNotNull)
          .select(graft.functions.Shuffles.hashKey(col(valueCol), salt).as("hv"))
          .as[Long].select(agg.toColumn).head()
        val merged = standing.updateAndGet(cur => agg.merge(
          cur.clone(), batchMins))
        sink(merged, graft.functions.Sketches.kmvEstimate(merged, k), batchId)
      }
      .start()
  }

  /** One row of the unified as-of stream: side 0 = quote (value carries
    * the payload), side 1 = probe (id identifies the probe row). */
  final case class AsofEvent(key: Long, ts: Long, side: Int, id: Long,
                             value: Double)

  /** Enrichment emitted per probe: the matched quote ts/value, or None
    * when no quote at-or-before the probe has been seen. */
  final case class AsofMatch(id: Long, key: Long, ts: Long,
                             matchedTs: Option[Long], value: Option[Double])

  /** Streaming backward as-of join: the STATEFUL twin of
    * [[graft.functions.Events.asofJoin]] over ONE unified stream of
    * quotes and probes. Per-key state is the single latest quote
    * (ts, value) — O(1) per key no matter how long the stream runs,
    * because a backward as-of never needs an older quote again once a
    * newer one is on file. Within a micro-batch rows process in
    * (ts, side, id) order (quotes before probes at equal ts — the same
    * ≤ bound as the batch operator); across batches the caller feeds
    * time-ordered triggers per key (the watermark-sorted ingest
    * contract [[streamingSessionize]] documents). Feeding the whole
    * corpus through in ANY such batch split reproduces the batch
    * asofJoin exactly (asserted in StreamingSpec). */
  def streamingAsof(events: Dataset[AsofEvent]): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: Long, batch: Iterator[AsofEvent], state: GroupState[(Long, Double)]) => {
          var last = state.getOption
          val out = batch.toSeq.sortBy(e => (e.ts, e.side, e.id)).flatMap {
            case q if q.side == 0 =>
              // monotonic guard: a contract-violating LATE quote (older
              // than the quote already on file) must not roll the state
              // back and silently corrupt every later probe's match —
              // within a batch the sort makes this a no-op
              if (last.forall(_._1 <= q.ts)) last = Some((q.ts, q.value))
              None
            case p =>
              Some(AsofMatch(p.id, key, p.ts, last.map(_._1), last.map(_._2)))
          }
          last.foreach(state.update)
          out.iterator
        })
  }

  /** One arriving doc of the budgeted-mix stream (id, source group,
    * token count, plus the deterministic shuffle key/shard assigned
    * up front by [[graft.functions.Shuffles.hashKey]]). */
  final case class MixDoc(id: Long, src: String, tok: Long, hkey: Long, shard: Long)

  /** Admission decision for one arriving doc. */
  final case class MixAdmit(id: Long, src: String, shard: Long, keep: Boolean)

  /** Streaming token-budgeted mixture: the STATEFUL twin of
    * [[graft.functions.Shuffles.budgetedMix]] — the per-(source, shard)
    * tokens-spent counter lives in flatMapGroupsWithState state, so the
    * budget keeps filling across micro-batches and a source stops
    * admitting the moment its quota is spent, no matter how many batches
    * later its docs arrive. Within one batch each group spends in
    * (hkey, id) order — the same deterministic hash order as the batch
    * op, so a single batch containing the whole corpus reproduces the
    * batch classification exactly (asserted in StreamingSpec). State is
    * ONE counter per (source, shard) — bounded by the mixture
    * configuration, not the stream. Admission mirrors the batch rule:
    * spent-before < budget/nShards (fractional, so a positive budget
    * admits at least one doc per shard). */
  def streamingBudgetedMix(docs: Dataset[MixDoc], budgets: Map[String, Long],
                           nShards: Int): Dataset[MixAdmit] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(d => (d.src, d.shard))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: (String, Long), batch: Iterator[MixDoc], state: GroupState[Long]) => {
          val quota = budgets.get(key._1).map(_.toDouble / nShards).getOrElse(0.0)
          var spent = state.getOption.getOrElse(0L)
          val out = batch.toSeq.sortBy(d => (d.hkey, d.id)).map { d =>
            val keep = spent < quota
            if (keep) spent += d.tok
            MixAdmit(d.id, d.src, d.shard, keep)
          }
          // no state entry for unbudgeted sources: they admit nothing
          // and a stream carrying high-cardinality junk src labels must
          // not grow the state store — this is what keeps state bounded
          // by the MIX CONFIG (budgeted sources × nShards), not the
          // stream's label space
          if (quota > 0.0) state.update(spent)
          out.iterator
        })
  }

  /** Streaming temperature-weighted mixture: the stateful twin of
    * [[graft.functions.Shuffles.temperatureMixAlpha]] (and of
    * temperatureMix at the default α = 1/2). The per-source token
    * totals come from the STANDING corpus stats — a deployment knows
    * them from its ingest ledger; a stream cannot aggregate its own
    * future — so the α-budgets resolve once on the driver
    * (source-bounded, integer-exact [[graft.functions.Shuffles
    * .temperatureBudgetsAlpha]]) and the admission is
    * [[streamingBudgetedMix]]'s per-(source, shard) spent ledger.
    * Batch parity: any feed split that keeps each (source, shard)
    * group within one micro-batch reproduces the batch operator
    * exactly (each group's ledger runs 0 → spent in one visit, in the
    * same (hkey, id) order) — asserted in StreamingSpec and gate-checked
    * by t32_stream_parity against the t32 oracle. */
  def streamingTemperatureMix(docs: Dataset[MixDoc],
                              totals: Map[String, Long], totalBudget: Long,
                              nShards: Int, p: Int = 1,
                              q: Int = 2): Dataset[MixAdmit] =
    streamingBudgetedMix(docs,
      graft.functions.Shuffles.temperatureBudgetsAlpha(totals, totalBudget, p, q),
      nShards)

  /** Per-doc admission of the streamed epoch mix. fullEpochs is the
    * source's whole-pass count; totalEpochs = fullEpochs + (keep ? 1:0)
    * — [[graft.functions.Shuffles.epochMix]]'s per-doc law. */
  final case class EpochAdmit(id: Long, src: String, shard: Long,
                              keep: Boolean, fullEpochs: Long,
                              totalEpochs: Long)

  /** Streaming epoch-aware mixture: the stateful twin of
    * [[graft.functions.Shuffles.epochMix]] (data-constrained scaling —
    * budgets past a source's size become whole epochs). The per-source
    * totals come from the standing corpus stats like
    * [[streamingTemperatureMix]]'s; fullEpochs = budget DIV total
    * resolves once on the driver, and ONLY the remainder budget runs
    * through the per-(source, shard) spent ledger — whole epochs are
    * arithmetic, not state. Batch parity under the same group-whole
    * split contract as the other twins (asserted in StreamingSpec). */
  def streamingEpochMix(docs: Dataset[MixDoc], totals: Map[String, Long],
                        budgets: Map[String, Long],
                        nShards: Int): Dataset[EpochAdmit] = {
    import docs.sparkSession.implicits._
    val epochs = budgets.collect {
      case (g, b) if totals.getOrElse(g, 0L) > 0 => g -> b / totals(g)
    }
    val rem = budgets.collect {
      case (g, b) if totals.getOrElse(g, 0L) > 0 => g -> b % totals(g)
    }
    streamingBudgetedMix(docs, rem, nShards).map { a =>
      val fe = epochs.getOrElse(a.src, 0L)
      EpochAdmit(a.id, a.src, a.shard, a.keep, fe,
        fe + (if (a.keep) 1L else 0L))
    }
  }
}
