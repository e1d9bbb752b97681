package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.analytics.{Dataflows, Replication}
import graft.core.Caching
import graft.functions.{Events, TextFunctions}
import graft.model.DerivedState
import graft.state.StateManager
import graft.streaming.Changefeed
import graft.streaming.Changefeed.{AsofEvent, AsofMatch, SessCount, SessEvent}

/** The namenode's metadata paths stay bounded as the tables grow: a
  * monitor tick costs what its work list costs, N5 costs at most
  * linearly more, the path recursions fall back to join loops past
  * their driver cap and still return the fast path's rows, and the
  * streaming twins land on the batch answer. Each law compares k = 1
  * with k = 4 disjoint namespace shards of sf0.01, on counters that do
  * not depend on the wall clock (see [[SparkSpec.countersDuring]]).
  *
  * Shard j moves every positive id and parent id up by j·10⁹ and
  * suffixes the names of its top-level entries with `_j`, so the path
  * walk's (parentId, name) join stays unique; all shards share the one
  * root row. Each shard's file and block tables are written to their
  * own scratch parquet dirs; k = 1 reads shard 0's files and k = 4 the
  * same files plus three more, so a pushed key predicate can prune the
  * row groups of the other shards.
  * Every work list is drawn from shard 0.
  *
  * Two checks that do not vary k ride along: no q-family plan holds a
  * CartesianProduct, and truncated BM25 serving keeps the recall it
  * measured on a hash-Zipf corpus. */
class ScalingLawsSpec extends SparkSpec {

  private val sf = TestdataDirs.scale("sf0.01")
  private val Off = 1000000000L
  private val ks = Seq(1, 4)
  private val now = DerivedState.NowMs

  private case class Shards(file: DataFrame, block: DataFrame,
                            reported: DataFrame, events: DataFrame)

  private lazy val shards: Map[Int, Shards] = {
    DerivedState.register(spark, sf)
    // derived once, so every shard copies the same partitions
    val base = Seq("file", "block", "reported", "events")
      .map(t => t -> spark.table(t).localCheckpoint()).toMap
    val dir = Caching.scratchDir("scaling-laws")
    def shift(c: String, j: Int) =
      when(col(c) > 0, col(c) + lit(j * Off)).otherwise(col(c))
    def shard(j: Int): Map[String, DataFrame] = Map(
      "file" -> base("file")
        .filter(col("id") =!= 0L || lit(j == 0))
        .withColumn("id", shift("id", j))
        .withColumn("parentId", shift("parentId", j))
        .withColumn("name",
          when(col("parentId") === 0L && col("id") =!= 0L,
            concat(col("name"), lit(s"_$j"))).otherwise(col("name"))),
      "block" -> base("block")
        .withColumn("id", shift("id", j))
        .withColumn("fileId", shift("fileId", j)),
      "reported" -> base("reported")
        .withColumn("blockId", shift("blockId", j)),
      "events" -> base("events")
        .withColumn("user_id", col("user_id") + lit(j * Off))
        .withColumn("event_id", col("event_id") + lit(j * Off)))
    val shardsOf = (0 until ks.max).map(shard)
    // the tables the ticks prune go to parquet; N5 and the streams read
    // every row anyway
    for ((s, j) <- shardsOf.zipWithIndex; t <- Seq("file", "block"))
      s(t).write.parquet(s"$dir/$t/$j")
    // k = 1 reads shard 0's files, k = 4 the same files and three more
    ks.map { k =>
      def read(t: String) = spark.read.parquet((0 until k).map(j => s"$dir/$t/$j"): _*)
      def union(t: String) = shardsOf.take(k).map(_(t)).reduce(_ unionByName _)
      k -> Shards(read("file"), read("block"), union("reported"), union("events"))
    }.toMap
  }

  private def dn = {
    DerivedState.register(spark, sf) // a no-op unless another suite moved the views
    spark.table("datanode")
  }

  /** Rows as an order-free multiset. */
  private def bag(rs: Array[Row]): Map[String, Int] =
    rs.groupBy(_.toString).view.mapValues(_.length).toMap

  // ---- work-list ticks ------------------------------------------------

  private lazy val shardBlockRows = shards(1).block.count()
  private lazy val shard0 = shards(1).block.filter(col("version") > 0)

  /** The counters and rows of `run` over the shards of each k. The
    * shards are built before counting, so a law run alone counts only
    * its own work. */
  private def measured(run: Shards => DataFrame): Map[Int, (Counters, Array[Row])] =
    ks.map { k =>
      val s = shards(k)
      var out: Array[Row] = null
      val c = countersDuring { out = run(s).collect() }
      k -> (c, out)
    }.toMap

  /** A tick over a shard-0 work list returns the same rows and costs the
    * same jobs and shuffle at k = 4, and reads less than one shard's
    * block rows more per added shard: the other shards' row groups are
    * pruned, not scanned and filtered. */
  private def assertWorkListBounded(name: String)(run: Shards => DataFrame): Unit = {
    val t = measured(run)
    val (c1, r1) = t(1)
    val (c4, r4) = t(4)
    info(s"k=1 $c1; k=4 $c4")
    assert(r1.nonEmpty && bag(r4) == bag(r1), s"$name: rows changed with the shard count")
    assert(c4.jobs == c1.jobs, s"$name jobs: $c1 vs $c4")
    assert(c4.shuffleRecords == c1.shuffleRecords, s"$name shuffle: $c1 vs $c4")
    assert(c4.maxTaskShuffleRead == c1.maxTaskShuffleRead, s"$name max task: $c1 vs $c4")
    assert(c4.inputRecords - c1.inputRecords < 3 * shardBlockRows,
      s"$name read other shards' block rows: $c1 vs $c4 ($shardBlockRows per shard)")
  }

  test("pendingRequeue: a tick costs its work list, not the table") {
    val timedOut = shard0.filter(col("id") % 997 === 0L)
      .select(col("id").as("blockId"), lit(1L).as("inFlight"),
        lit(now - 600000L).as("since"))
      .distinct().localCheckpoint()
    assertWorkListBounded("pendingRequeue")(s =>
      Replication.pendingRequeue(timedOut, s.block, s.file, dn, now))
  }

  test("corruptInvalidations: a sweep costs its mark list, not the table") {
    // one marked holder per block: marking every replica would put each
    // block on the all-corrupt branch, which invalidates nothing
    val marks = shard0.filter(col("id") % 1009 === 0L)
      .groupBy(col("id").as("blockId"))
      .agg(min(col("datanodeId")).as("datanodeId"))
      .localCheckpoint()
    assertWorkListBounded("corruptInvalidations")(s =>
      Replication.corruptInvalidations(marks, s.block, s.file, dn, now))
  }

  test("blockReceived: a receipt batch costs the batch, not the table") {
    val ops = shard0.filter(col("id") % 997 === 1L)
      .select(col("datanodeId"), col("id").as("blockId"),
        col("length").as("repLength"),
        col("generationStamp").as("repGenStamp"),
        lit(null).cast("long").as("delHint"))
      .distinct().localCheckpoint()
    assertWorkListBounded("blockReceived")(s =>
      Replication.blockReceived(s.block, s.file, dn, ops))
  }

  test("mkdirs and fsck's node dimension: a bounded batch runs fixed jobs and no shuffle") {
    // five jobs: the batch collect, the slice scan, and the reject ladder
    // over the two local relations (one per broadcast side, one probe);
    // the write-set itself is a local relation
    val reqs = shards(1).file
      .filter(col("version") > 0 && col("length") === -1L && col("id") % 7 === 0L)
      .select(col("id").as("parentId"), concat(lit("new_"), col("name")).as("name"))
      .limit(25).localCheckpoint()
    val t = measured(s => graft.state.Mutations.mkdirs(s.file, reqs,
      idBase = 5L * Off, nowMs = now))
    val (c1, r1) = t(1)
    val (c4, r4) = t(4)
    info(s"mkdirs k=1 $c1; k=4 $c4")
    assert(r1.count(_.getAs[String]("writeOp") == "insert") == 25 && bag(r4) == bag(r1))
    for (c <- Seq(c1, c4)) assert(c.jobs == 5 && c.shuffleRecords == 0, s"mkdirs $c")
    // the node dimension is fsck's only eager work: one collect
    for (k <- ks) {
      val c = countersDuring(Dataflows.fsck(shards(k).file, shards(k).block, dn, now))
      assert(c.jobs == 1 && c.shuffleRecords == 0, s"fsck build k=$k $c")
    }
  }

  test("fsck -delete scoped to a shard-0 dir scans that subtree's blocks, not every shard's") {
    // the gate's dead-node projection, so the subtree holds corrupt files
    val deadDn = { dn; spark.sql(graft.queries.AnalyticsQueries.FsckDeadNodesSql) }
    def delete(s: Shards, scope: String) =
      Dataflows.fsckDelete(s.file, s.block, deadDn, now, pathPrefix = scope)
    val t = measured(delete(_, "/n_7_0"))
    val (c1, r1) = t(1)
    val (c4, r4) = t(4)
    val whole = countersDuring(delete(shards(4), "/").collect())
    info(s"scoped k=1 $c1; k=4 $c4; unscoped k=4 $whole")
    assert(r1.nonEmpty && bag(r4) == bag(r1), "rows changed with the shard count")
    // the findings scan and the tombstone scan both prune to shard 0: the
    // other shards add their file rows, not their block rows, ...
    assert(c4.inputRecords - c1.inputRecords < 3 * shardBlockRows,
      s"read other shards' block rows: $c1 vs $c4 ($shardBlockRows per shard)")
    // ... while the unscoped call reads every shard's block rows in both
    assert(whole.inputRecords - c4.inputRecords >= 2 * 3 * shardBlockRows,
      s"the scope did not prune the block scans: $c4 vs $whole ($shardBlockRows per shard)")
  }

  test("N5 reconcileReports: same jobs, at most linear shuffle, k times each action") {
    val t = measured(s => Dataflows.reconcileReports(s.block, s.reported)
      .groupBy(col("action")).agg(count(lit(1)).as("n")))
    val (c1, r1) = t(1)
    val (c4, r4) = t(4)
    info(s"k=1 $c1; k=4 $c4")
    assert(c4.jobs == c1.jobs, s"$c1 vs $c4")
    assert(c1.shuffleRecords > 0 && c4.shuffleRecords <= 4 * c1.shuffleRecords,
      s"$c1 vs $c4")
    def actions(r: Array[Row]) = r.map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(actions(r4) == actions(r1).view.mapValues(_ * 4).toMap)
  }

  // ---- recursion fallbacks --------------------------------------------

  /** One recursion at each k on its fast path, forced onto its join
    * loop (`dirBroadcastLimit = 0`), and with the limit one below the
    * live dir count, where the default code path must fall back by
    * itself. Rows agree on all three. The dir-map collect that decides
    * the path runs its own jobs, which depend on the limit, so the laws
    * count the jobs after it: the automatic fallback runs the forced
    * loop's jobs, the loop runs more than the fast path, and each path
    * runs the same jobs at every k. `needNames` is the collect's own
    * flag. Two back-to-back loops run the same jobs. Returns the fast
    * path's rows. */
  private def fallbackLaws(name: String, needNames: Boolean)
                          (run: (Int, Long) => DataFrame): Map[Int, Array[Row]] = {
    val byK = ks.map { k =>
      val live = shards(k).file.filter(col("version") > 0)
      val dirs = live.filter(col("length") === -1L)
      val nDirs = (if (needNames) dirs.filter(col("name").isNotNull) else dirs).count()
      def fits(limit: Long) =
        StateManager.collectDirChildren(live, limit, needNames).isDefined
      assert(fits(nDirs) && !fits(nDirs - 1),
        s"$name k=$k: the dir map of $nDirs dirs must fit limit $nDirs and only it")
      /** (jobs after the decision, rows) of one run. */
      def measured(limit: Long) = {
        val decision = countersDuring(fits(limit)).jobs
        var out: Array[Row] = null
        val c = countersDuring { out = run(k, limit).collect() }
        (c.jobs - decision, out)
      }
      val (fast, fastRows) = measured(2000000L)
      val (forced, forcedRows) = measured(0L)
      // nothing the last run left behind saves the next one a job
      val (again, _) = measured(0L)
      assert(again == forced, s"$name k=$k: back-to-back loops ran $forced then $again jobs")
      val (auto, autoRows) = measured(nDirs - 1)
      assert(fastRows.nonEmpty, s"$name k=$k returned nothing")
      assert(bag(forcedRows) == bag(fastRows), s"$name k=$k: forced fallback != fast path")
      assert(bag(autoRows) == bag(fastRows), s"$name k=$k: automatic fallback != fast path")
      assert(forced > fast, s"$name k=$k: forced loop $forced jobs, fast path $fast")
      assert(auto == forced, s"$name k=$k: limit ${nDirs - 1} ran $auto jobs, the loop $forced")
      info(s"k=$k: $nDirs dirs; jobs after the decision: fast $fast, loop $forced")
      k -> ((fast, forced), fastRows)
    }.toMap
    assert(byK(4)._1 == byK(1)._1,
      s"$name (fast, loop) jobs changed with the shard count: ${byK(1)._1} vs ${byK(4)._1}")
    byK.view.mapValues(_._2).toMap
  }

  private lazy val paths: Map[Int, Array[Row]] =
    fallbackLaws("materializePaths", needNames = true)((k, limit) =>
      StateManager.materializePaths(shards(k).file, dirBroadcastLimit = limit))

  test("materializePaths: fast == fallback, and k shards hold k·(n₁−1)+1 paths") {
    val n1 = shards(1).file.filter(col("version") > 0).count()
    ks.foreach(k => assert(paths(k).length == k * (n1 - 1) + 1, s"k=$k"))
  }

  test("resolvePaths: fast == fallback at every shard count") {
    import spark.implicits._
    val probes = ks.map { k =>
      val rs = paths(k)
      val (id, path) = (rs.head.fieldIndex("id"), rs.head.fieldIndex("path"))
      k -> rs.filter(_.getLong(id) % 5000 == 3L).map(_.getString(path)).sorted.take(200).toSeq
    }.toMap
    assert(probes(4).size > probes(1).size)
    fallbackLaws("resolvePaths", needNames = true)((k, limit) =>
      StateManager.resolvePaths(shards(k).file, probes(k).toDF("path"),
        dirBroadcastLimit = limit))
  }

  test("contentSummary: fast == fallback for every shard root") {
    val roots = ks.map { k =>
      k -> shards(k).file.filter(col("parentId") === 0L && col("id") =!= 0L &&
          col("version") > 0)
        .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    }.toMap
    fallbackLaws("contentSummary", needNames = false)((k, limit) =>
      Dataflows.contentSummary(shards(k).file, roots(k), dirBroadcastLimit = limit))
  }

  // ---- plan audit -----------------------------------------------------

  test("no q-family or relational v-entry plans a CartesianProduct") {
    val sf001 = TestdataDirs.scale("sf0.001")
    val names = SparkEntry.queries.keys.filter(n =>
        n.matches("q[0-9]+_.*") ||
          Set("v1_profile", "v2_fk_orphans", "v3_quality_gate")(n))
      .toSeq.sorted
    assert(names.size >= 25, names)
    val cartesian = names.filter { n =>
      val df = SparkEntry.queries(n)(spark, sf001)
      df.collect() // the executed plan is now AQE's final plan
      df.queryExecution.executedPlan.toString.contains("CartesianProduct")
    }
    assert(cartesian.isEmpty)
  }

  // ---- stream == batch ------------------------------------------------

  /** Each k's events in 4 time-ordered slices, one file per trigger,
    * for the three event streams. The slices get strictly increasing
    * mtimes: the file source orders by mtime, not path, and two slices
    * written inside one mtime tick could replay out of order. */
  private lazy val eventFeeds: Map[Int, Path] = ks.map { k =>
    val feed = Caching.scratchDir("laws-events")
    val ev = shards(k).events
    val us = expr("ts div 1000")
    val cuts = ev.select(us.as("us")).stat
      .approxQuantile("us", Array(0.25, 0.5, 0.75), 0.001).map(_.toLong)
    val bounds = (Long.MinValue +: cuts.toSeq) :+ Long.MaxValue
    val base = System.currentTimeMillis() - 3600000L
    bounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      val slice = feed.resolve(s"slice$i")
      ev.filter(us >= lo && us < hi).coalesce(1).write.parquet(slice.toString)
      val t = java.nio.file.attribute.FileTime.fromMillis(base + i * 60000L)
      Files.list(slice).iterator().asScala.foreach(Files.setLastModifiedTime(_, t))
    }
    k -> feed
  }.toMap

  private def eventStream(k: Int) = spark.readStream.option("maxFilesPerTrigger", "1")
    .schema(shards(k).events.schema).parquet(s"${eventFeeds(k)}/slice*")

  /** Run `out` to completion over a feed it reads a few files per
    * trigger, handing each micro-batch to `sink`; returns the number of
    * triggers that read data. */
  private def drain[T](out: Dataset[T], mode: String)(sink: (Dataset[T], Long) => Unit): Int = {
    val q = out.writeStream
      .foreachBatch { (b: Dataset[T], id: Long) => sink(b, id) }
      .outputMode(mode)
      .option("checkpointLocation", Caching.scratchDir("laws-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.count(_.numInputRows > 0)
  }

  test("as-of join: the time-sliced stream lands on the batch checksum") {
    import spark.implicits._
    def asofEvents(events: DataFrame) = events
      .select(col("user_id").as("key"), col("ts"),
        when(col("event_type") === "view", 0).otherwise(1).as("side"),
        when(col("event_type") === "view", 0L).otherwise(col("event_id")).as("id"),
        when(col("event_type") === "view", col("value")).otherwise(0.0).as("value"))
    ks.foreach { k =>
      val ev = asofEvents(shards(k).events)
      // (matches, Σ matchedTs mod p) per micro-batch: matchedTs is epoch
      // nanos, and a plain sum overflows a long
      val matched = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
      val stream = asofEvents(eventStream(k)).as[AsofEvent]
      val triggers = drain(Changefeed.streamingAsof(stream), "update") {
        (mb: Dataset[AsofMatch], id: Long) =>
          val r = mb.toDF().filter(col("matchedTs").isNotNull)
            .agg(count(lit(1)), sum(col("matchedTs") % 1000000007L)).head()
          matched.put(id, (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
      }
      assert(triggers >= 4, s"k=$k ran $triggers data triggers")
      val streamed = matched.values.asScala.foldLeft((0L, 0L)) {
        case ((n, s), (n1, s1)) => (n + n1, s + s1)
      }
      val quotes = ev.filter(col("side") === 0)
        .groupBy(col("key").as("user_id"), col("ts")).agg(max(col("value")).as("quote"))
      val probes = ev.filter(col("side") === 1)
        .select(col("id").as("event_id"), col("key").as("user_id"), col("ts"))
      val batch = Events.asofJoin(probes, quotes, "user_id", "ts", Seq("quote"))
        .filter(col("matchedTs").isNotNull)
        .agg(count(lit(1)), sum(col("matchedTs") % 1000000007L).cast("long")).head()
      assert(streamed._1 > 0 && streamed == ((batch.getLong(0), batch.getLong(1))),
        s"k=$k: stream $streamed, batch $batch")
    }
  }

  test("sessionize: the time-sliced stream counts the batch sessions") {
    import spark.implicits._
    ks.foreach { k =>
      val ev = shards(k).events.select(col("user_id"), col("ts"))
      val sessions = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val stream = eventStream(k).select(col("user_id"), col("ts")).as[SessEvent]
      // update mode: a user's last row carries its running count
      val triggers = drain(Changefeed.streamingSessionize(stream), "update") {
        (b: Dataset[SessCount], _: Long) =>
          b.collect().foreach(s => sessions.put(s.user_id, s.sessions))
      }
      assert(triggers >= 4, s"k=$k ran $triggers data triggers")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val batch = ev.withColumn("prevTs", lag(col("ts"), 1).over(w))
        .agg(sum(when(col("prevTs").isNull ||
          col("ts") - col("prevTs") > 1800000000000L, 1L).otherwise(0L)))
        .head().getLong(0)
      val streamed = sessions.values.asScala.map(_.toLong).sum
      assert(batch > 0 && streamed == batch, s"k=$k: stream $streamed, batch $batch")
    }
  }

  // ---- retrieval quality ----------------------------------------------

  test("truncated BM25 serve keeps its recall@10 and MRR on a Zipf corpus") {
    // 80..159 tokens per doc, token rank ⌊V^u⌋ (Zipf(1) over V = 50000)
    // with u from a hash of (doc, position): deterministic, no RNG
    val nDocs = 5000L
    val V = 50000.0
    val corpus = spark.range(0, nDocs).select(col("id").as("doc_id"))
      .select(col("doc_id"), array_join(transform(
        sequence(lit(0), lit(79) + pmod(col("doc_id"), lit(80)).cast("int")),
        p => concat(lit("t"), floor(pow(lit(V),
          pmod(hash(col("doc_id") * lit(1000003L) + p.cast("long") * lit(7919L)),
            lit(1000000)).cast("double") / lit(1000000.0))).cast("long"))),
        " ").as("text"))
      .localCheckpoint()
    val store = TextFunctions.bm25Postings(corpus, "doc_id", "text").localCheckpoint()
    val stats = TextFunctions.bm25StatsOf(store)
    val (docLens, termDf, corpusStats) = (stats.docLens.localCheckpoint(),
      stats.termDf.localCheckpoint(), stats.corpus.localCheckpoint())
    def index(maxPostings: Long) = TextFunctions.bm25IndexFromParts(store, docLens,
      termDf, corpusStats, maxPostings = maxPostings)
    // every nDocs/64-th doc, re-keyed, is a query (65 of them); truth is
    // the untruncated top-10
    val queries = corpus.filter(col("doc_id") % lit(nDocs / 64) === 0L)
      .select((col("doc_id") + lit(60000000L)).as("doc_id"), col("text"))
    val truth = TextFunctions.bm25TopKAgainst(index(Long.MaxValue), queries,
        "doc_id", "text", k = 10)
      .localCheckpoint()
    val truthRows = truth.count()
    assert(truthRows == 650) // 65 queries × top-10
    def quality(maxPostings: Long): (Double, Double) = {
      val served = TextFunctions.bm25TopKAgainst(index(maxPostings), queries,
          "doc_id", "text", k = 10)
        .select(col("qid"), col("did"), col("rank").as("trank"))
        .localCheckpoint()
      val joined = truth.join(served, Seq("qid", "did"), "left")
      val recall = joined.filter(col("trank").isNotNull).count().toDouble / truthRows
      // MRR of each query's untruncated top-1 in the truncated list
      val mrr = joined.filter(col("rank") === 1L)
        .agg(avg(coalesce(lit(1.0) / col("trank"), lit(0.0)))).head().getDouble(0)
      (recall, mrr)
    }
    val (r100, m100) = quality(100L)
    val (r1000, m1000) = quality(1000L)
    info(f"maxPostings=100: recall@10 $r100%.4f, MRR $m100%.4f; " +
      f"1000: recall@10 $r1000%.4f, MRR $m1000%.4f")
    // the values this corpus first measured (640 and 649 of 650 truth
    // rows); the TextFunctions ranking must not lose any of them
    assert(r100 >= 640.0 / truthRows && m100 >= 1.0)
    assert(r1000 >= 649.0 / truthRows && m1000 >= 1.0)
  }
}
