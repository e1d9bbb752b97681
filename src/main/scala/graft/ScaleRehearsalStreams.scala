package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The last-mile scale rehearsal (local iteration; not part of the
  * driver contract): the two streaming twins the r15 roster carried as
  * fixture-only-measured — [[graft.streaming.Changefeed.streamingDedup]]
  * (engine-native dropDuplicatesWithinWatermark) and the native
  * `session_window` aggregate — each fed a multi-trigger parquet stream
  * at rehearsal scale, per-trigger durations printed; plus the k-NN
  * vote's PLAIN-JOIN fallback path priced at a corpus-fraction query
  * count (the r16 size guard: past 65536 queries the broadcast hint
  * drops — this drives a 143k-query slice through the exact code path a
  * curation-routing caller would hit).
  *
  * Usage: runMain graft.ScaleRehearsalStreams [sfDir]
  */
object ScaleRehearsalStreams {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // Streams runs at base scale: the oversized-heap trap applies
    RehearsalUtil.enforceHeapRule(1.0)
    val spark = graft.core.Sessions.local()
    val scratch = graft.core.Caching.scratchDir("rehearsal_streams").toString
    val Off = 1000000000L

    // MIN-of-reps protocol (RehearsalUtil): streaming twins replay whole
    // feeds per rep, so the default stays 1; SPARK_GRAFT_REHEARSAL_REPS
    // re-pins with spreads when adjudicating a drift
    val reps = RehearsalUtil.reps(default = 1)
    def time(name: String)(f: => Long): Double =
      RehearsalUtil.timeReps(spark, "rehearsal-s", name, reps)(f)
    import scala.jdk.CollectionConverters._
    def triggerStats(q: org.apache.spark.sql.streaming.StreamingQuery): String = {
      val ds = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .map(_.durationMs.getOrDefault("triggerExecution", 0L).toLong)
      if (ds.isEmpty) "no data triggers"
      else s"${ds.size} triggers, median ${ds.sorted.apply(ds.size / 2)} ms, max ${ds.max} ms"
    }

    // ---- streamingDedup at 500k docs, every id delivered TWICE --------
    // (the ingest-retry regime the operator exists for): 100 re-keyed
    // copies of the corpus, then the whole feed duplicated into a
    // second wave of files — cross-trigger dedup must emit each id
    // once, with state bounded by the watermark, per-trigger cost
    // O(batch). Event times sit inside one watermark window so every
    // second-wave duplicate is a guaranteed state hit, the worst case.
    val nCopies = 100
    val docIds = (0 until nCopies).map { k =>
      graft.core.Tables.documents(spark, sfDir)
        .select((col("doc_id") + lit(k.toLong * Off)).as("doc_id"),
          col("lang"))
    }.reduce(_ unionByName _)
      .withColumn("arrival",
        timestamp_micros(lit(1700000000000000L) + (col("doc_id") % 300000000L)))
    val nDistinct = docIds.count()
    var dedupEmitted = 0L
    val tDedupS = time(s"streamingDedup ($nDistinct ids x2 waves)") {
      val feed = s"$scratch/dedupfeed"
      docIds.repartition(12).write.mode("overwrite").parquet(s"$feed/w0")
      docIds.repartition(12).write.mode("overwrite").parquet(s"$feed/w1")
      val stream = spark.readStream.option("maxFilesPerTrigger", "3")
        .schema(spark.read.parquet(s"$feed/w0").schema).parquet(s"$feed/w*")
      val acc = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val q = graft.streaming.Changefeed
        .streamingDedup(stream, "doc_id", "arrival", watermark = "10 minutes")
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          { acc.put(id, b.count()); () }
        }
        .option("checkpointLocation", s"$scratch/dedup-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      println(s"[rehearsal-s]   dedup stream: ${triggerStats(q)}")
      dedupEmitted = acc.values.asScala.map(v => v: Long).sum
      dedupEmitted
    }
    // every id exactly once despite the doubled feed
    println(s"[rehearsal-s] streamingDedup emitted==distinct: " +
      s"${dedupEmitted == nDistinct} (emitted $dedupEmitted of $nDistinct)")

    // ---- native session_window at 10x events, 8 time-sliced triggers --
    // append mode emits each session ONCE when the watermark closes it;
    // the tail sessions the final watermark never passes stay open by
    // design — emitted must be a large, sane fraction of the batch
    // session count, never more
    val ev10 = {
      graft.model.DerivedState.register(spark, sfDir)
      (0 until 10).map { k =>
        spark.table("events")
          .select((col("user_id") + lit(k.toLong * Off)).as("user_id"),
            col("ts"))
      }.reduce(_ unionByName _)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        .localCheckpoint()
    }
    var emitted = 0L
    val tSessW = time("session_window STREAM (10x, 8 triggers)") {
      val feed = s"$scratch/sesswfeed"
      val cuts = ev10.select(unix_micros(col("ts")).as("us")).stat
        .approxQuantile("us", (1 to 7).map(_ / 8.0).toArray, 0.001)
        .map(_.toLong)
      val bounds = (Long.MinValue +: cuts.toSeq) :+ Long.MaxValue
      bounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
        ev10.filter(unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)
          .coalesce(1).write.mode("overwrite").parquet(f"$feed/slice$i%02d")
      }
      // FileStreamSource orders by mtime — make slice order explicit
      RehearsalUtil.stampSliceOrder(feed)
      val stream = spark.readStream.option("maxFilesPerTrigger", "1")
        .schema(ev10.schema).parquet(s"$feed/slice*")
      val acc = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val q = graft.streaming.Changefeed.sessionWindows(stream)
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          { acc.put(id, b.count()); () }
        }
        .outputMode("append")
        .option("checkpointLocation", s"$scratch/sessw-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      println(s"[rehearsal-s]   session_window stream: ${triggerStats(q)}")
      emitted = acc.values.asScala.map(v => v: Long).sum
      emitted
    }
    // batch truth: 30-minute-gap sessions over the same 10x events
    val batchSessions = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      ev10.withColumn("prevTs", lag(col("ts"), 1).over(w))
        .withColumn("newSession", when(col("prevTs").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prevTs")) > 1800000000L, 1L)
          .otherwise(0L))
        .agg(sum(col("newSession"))).head().getLong(0)
    }
    println(s"[rehearsal-s] session_window emitted $emitted of $batchSessions " +
      s"batch sessions (tail stays open by design; sane=" +
      s"${emitted > 0 && emitted <= batchSessions})")

    // ---- k-NN vote at a corpus-fraction query count: the FALLBACK -----
    // 500 embedding copies -> 1M vectors; the %7 slice is ~143k queries,
    // past the 65536 broadcast bound, so BOTH the topk hint and the
    // tally hint drop to plain shuffle joins (the r16 size guard). The
    // topk frame comes from the sign-LSH index (16 planes -> 65k
    // buckets, bucket-local top-5) — the coarse serve path a
    // corpus-fraction labeling job would actually use; the vote is the
    // gate entries' exact tally.
    val emb1m = (0 until 500).map { k =>
      graft.core.Tables.embeddings(spark, sfDir)
        .select((col("vec_id") + lit(k.toLong * Off)).as("vec_id"),
          col("embedding"), col("label"))
    }.reduce(_ unionByName _).localCheckpoint()
    val nVec = emb1m.count()
    val qp = col("vec_id") % 7 === 3
    val tVote = time(s"knn vote fallback ($nVec vectors, ~14% queries)") {
      import org.apache.spark.sql.expressions.Window
      val bucketed = graft.functions.Vectors
        .withLshBucket(emb1m, dims = 64, nPlanes = 16)
      val queries = bucketed.filter(qp)
        .select(col("vec_id").as("qid"), col("bucket"))
      val mates = bucketed
        .select(col("vec_id").as("nid"), col("bucket"))
      val w = Window.partitionBy(col("qid")).orderBy(col("nid"))
      val topk = queries.join(mates, Seq("bucket"))
        .filter(col("qid") =!= col("nid"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select(col("qid"), col("nid"))
      val out = graft.functions.Vectors.knnClassifyFrom(topk, emb1m, qp)
      val agg = out.agg(count(lit(1)), sum(col("correct")),
        sum(when(col("predLabel").isNull, 1L).otherwise(0L))).head()
      println(s"[rehearsal-s]   vote: queries=${agg.getLong(0)} " +
        s"correct=${agg.getLong(1)} abstained=${agg.getLong(2)} " +
        s"(fallback engaged: ${agg.getLong(0) > graft.functions.Vectors.MaxBroadcastQueries})")
      agg.getLong(0)
    }

    val r = Seq("dedup_stream" -> tDedupS, "sessw_stream" -> tSessW,
      "knn_vote_fallback" -> tVote)
    RehearsalUtil.checkBands("streams", r)
    println(r.map { case (k, v) => s""""$k":$v""" }
      .mkString(s"""{"metric":"rehearsal_streams","sf":"$sfDir",""", ",", "}"))
    spark.stop()
  }
}
