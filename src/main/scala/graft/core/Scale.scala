package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Cluster-scale layout utilities: bucketing for co-located joins and
  * salting for skewed keys — the two knobs that decide whether a 100 TB
  * join shuffles (SURVEY §4 "per-datanode cache → bucketed join on
  * datanodeId"; builder prompt: bucketing / salting / AQE).
  */
object Scale {

  /** Work-list key prune: read ONLY the listed keys' rows from a
    * table-scale frame — the monitor-tick / op-batch access shape. A
    * broadcast left-semi filters AFTER the scan, so the whole table
    * still streams through the executors (measured 16.5 s at 140× state
    * scale for a 375-key pendingRequeue list); a BOUNDED list instead
    * collects its long keys and pushes an IN predicate, which reaches
    * the parquet scan as row-group min/max pruning (and bucket pruning
    * on the bucketed layout) — the scan itself skips the table. Lists
    * that exceed `maxPushdown` distinct keys (or carry nulls) keep the
    * semi-join; the ROWS are identical either way, only the physical
    * access path changes. The collect is list-bounded by the limit —
    * never table-sized. The keys column must be an integral type that
    * widens losslessly to long (byte/short/int/long): a lossy cast
    * (string/double keys) would make the pushdown list and the
    * semi-join fallback disagree on which rows match, so anything else
    * fails loudly here instead.
    *
    * Contract: `keys` must be a BATCH frame (the eager collect fails on
    * a streaming frame at construction, by design — the streaming twins
    * carry their own per-trigger work lists). Each returned frame reads
    * ONE evaluation of `keys`: the bounded path's rows ARE its collected
    * IN list, and the fallback path pins the distinct keys with a
    * localCheckpoint before the semi-join so a non-deterministic or
    * later-mutated keys source cannot make the join re-evaluate them.
    * The bounded path stays a single limit-bounded collect — no
    * checkpoint job — so monitor-tick callers pay exactly one bounded
    * collect per tick. ScalingLawsSpec pins the pruning: a tick's jobs,
    * shuffle records and input records do not grow with unlisted shards. */
  def keyPrune(table: DataFrame, keyCol: String, keys: DataFrame,
               keysCol: String, maxPushdown: Int = 65536): DataFrame = {
    import org.apache.spark.sql.types._
    val keyType = keys.schema(keys.schema.fieldIndex(keysCol)).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(keyType),
      s"keyPrune keys column '$keysCol' must widen losslessly to long " +
        s"(byte/short/int/long), got $keyType")
    val distinctKeys = keys.select(col(keysCol).cast(LongType).as("__k"))
      .distinct()
    val collected = distinctKeys.limit(maxPushdown + 1).collect()
    if (collected.exists(_.isNullAt(0)) || collected.length > maxPushdown)
      table.join(broadcast(distinctKeys.localCheckpoint()),
        col(keyCol) === col("__k"), "left_semi")
    else if (collected.isEmpty) table.filter(lit(false))
    else table.filter(col(keyCol).isInCollection(
      collected.map(_.getLong(0)).toSeq))
  }

  /** Write a table bucketed+sorted by the join key. Two tables bucketed
    * the same way join WITHOUT a shuffle (SortMergeJoin over co-located
    * buckets) — at cluster scale this is how the block table joins the
    * datanode/report tables every monitor tick. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", tablePath(table))
      .saveAsTable(table)

  /** One home for the layout root — writeBucketed and writeStateTables
    * must never drift apart on where tables land. The root sits under
    * [[Caching.scratchRoot]]: unique per JVM, so two runs on one machine
    * never clobber each other's tables mid-write, and removed with the
    * rest of the scratch space when the JVM exits. */
  private def tablePath(table: String): String =
    Caching.scratchRoot.resolve("bucketed").resolve(table).toString

  /** One-call cluster layout for the persisted state tables — the
    * bucketing SURVEY §4 prescribes so every monitor-tick join lands
    * co-located:
    *  - `file` bucketed by parentId: the per-level path walk, listings
    *    and the contentSummary frontier all join or aggregate on it, so
    *    each recursion level exchanges ONLY the frontier, never the
    *    namespace scan (pinned in ScaleSpec);
    *  - `block` bucketed by id: the BlockEntry grouping (S8), the N5
    *    genstamp arbiter and the report reconciliation group on block id
    *    straight off the scan's distribution — zero-exchange at 100 TB
    *    where the block table dominates;
    *  - `datanode` plain: a node dimension that broadcasts everywhere;
    *  - optionally a staged `reported` feed bucketed by blockId: the N5
    *    reconciliation's full-outer join keys on (datanodeId, blockId)
    *    and its freshest-arbiter on blockId, both of which a blockId
    *    bucketing satisfies — with block and reported co-bucketed the
    *    whole reconcile plans without shuffling either side (pinned in
    *    ScaleSpec). A real deployment stages each report wave into this
    *    layout once, then every reconcile pass over it is exchange-free.
    *    Two session knobs gate the co-located plan (both set in the
    *    ScaleSpec pin): `spark.sql.requireAllClusterKeysForCoPartition=
    *    false` — the join keys are (datanodeId, blockId) while both
    *    buckets hash blockId alone, the subset co-partition case Spark
    *    keeps off by default — and `spark.sql.sources.bucketing.
    *    autoBucketedScan.enabled=false`, whose heuristic otherwise
    *    disables the bucketed read.
    * Returns the created table names. */
  def writeStateTables(file: DataFrame, block: DataFrame, datanode: DataFrame,
                       prefix: String = "graft_state",
                       buckets: Int = 32,
                       reported: Option[DataFrame] = None): Seq[String] = {
    writeBucketed(file, s"${prefix}_file", "parentId", buckets)
    writeBucketed(block, s"${prefix}_block", "id", buckets)
    datanode.write.mode(SaveMode.Overwrite)
      .option("path", tablePath(s"${prefix}_datanode"))
      .saveAsTable(s"${prefix}_datanode")
    val base = Seq(s"${prefix}_file", s"${prefix}_block", s"${prefix}_datanode")
    reported match {
      case Some(r) =>
        writeBucketed(r, s"${prefix}_reported", "blockId", buckets)
        base :+ s"${prefix}_reported"
      case None => base
    }
  }

  /** Cluster layout for the events fact table: bucketed by user_id —
    * the e-family's join/aggregation key throughout (sessionize, funnel,
    * retention, the as-of/range/interval joins all key on it), so on
    * this layout every per-user window and both sides of a co-bucketed
    * self-join read straight off the scan's distribution. Same
    * layout root as the state tables. */
  def writeEventsTable(events: DataFrame, prefix: String = "graft_state",
                       buckets: Int = 32): String = {
    writeBucketed(events, s"${prefix}_events", "user_id", buckets)
    s"${prefix}_events"
  }

  /** Cluster layout for the TPC-H facts: lineitem and orders bucketed by
    * their order keys. The l⋈o equi-join every q3/q4/q12/q18/q21-shape
    * pays shuffles BOTH fact sides at scale (it is the one join in the
    * q-family where neither side broadcasts at any SF), and q18's
    * groupBy(l_orderkey) aggregates on the same key — on this layout the
    * join plans as a co-located SortMergeJoin and the aggregate reads
    * its distribution straight off the scan (pinned in ScaleSpec). Dims
    * stay unbucketed: they are broadcast-or-threshold territory. Same
    * layout root as the state tables. */
  def writeRelationalTables(lineitem: DataFrame, orders: DataFrame,
                            prefix: String = "graft_state",
                            buckets: Int = 32): Seq[String] = {
    writeBucketed(lineitem, s"${prefix}_lineitem", "l_orderkey", buckets)
    writeBucketed(orders, s"${prefix}_orders", "o_orderkey", buckets)
    Seq(s"${prefix}_lineitem", s"${prefix}_orders")
  }

  /** Switch the session to the bucketed layout for `sfDir`: register the
    * derived views, write the state, events and relational tables from
    * them, then set `graft.layout=bucketed` together with the provenance
    * record [[Tables.LayoutDirKey]]. Every later `DerivedState.register`
    * and `Tables.load` of `sfDir` reads the written tables. Returns the
    * write time in seconds (view registration excluded). Must start from
    * the views layout: writing the tables from their own shadow would
    * read and overwrite the same files. */
  def activateBucketedLayout(spark: SparkSession, sfDir: String): Double = {
    graft.model.DerivedState.register(spark, sfDir)
    val t0 = System.nanoTime()
    writeStateTables(spark.table("file"), spark.table("block"),
      spark.table("datanode"))
    writeEventsTable(spark.table("events"))
    writeRelationalTables(spark.table("lineitem"), spark.table("orders"))
    spark.conf.set("graft.layout", "bucketed")
    spark.conf.set(Tables.LayoutDirKey, sfDir)
    (System.nanoTime() - t0) / 1e9
  }

  /** The maintained serve-STATS store — the persistence of
    * [[graft.functions.TextFunctions.Bm25Stats]] that makes the
    * maintained index O(batch) END-TO-END (r19; the r18 verdict's one
    * remaining O(store) write-side step was re-aggregating
    * df/nDocs/totTok over the whole posting store per append, 21.5 s at
    * 500k docs). Layout under `dir`:
    *
    *   doc_len/           append-only parquet dir — each fold's (did, dl)
    *                      rows land as ONE did-sorted file named by its
    *                      version (idempotent: a replayed fold skips an
    *                      existing file; dl never revises — first-seen-
    *                      wins upstream)
    *   v=NNNNNN/term_df/  vocab-sized (term, df) — and
    *   v=NNNNNN/corpus/   one row (nDocs, totTok) — staged together and
    *                      committed by ONE whole-dir atomic rename; the
    *                      version dir IS the commit marker
    *
    * A fold costs O(batch) for doc_len + O(vocab) for the version dir —
    * never O(store). Idempotence is per VERSION: re-folding a committed
    * version is a no-op, which is what lets the streaming ingest twin
    * replay a crashed trigger safely (it re-reads the delta rows from
    * the posting store's committed `delta-<batchId>.parquet`, so a
    * crash between the store commit and the stats fold cannot lose the
    * batch's contribution — the one transient state is doc_len running
    * one fold ahead of the version pair between a crash and its replay:
    * bounded staleness of df/nDocs for the newest batch, never a
    * double-count). Old versions are vocab-sized and left for
    * time-travel symmetry with the R6 family; retention is one
    * directory delete. */
  def writeStatsStore(dir: String,
                      stats: graft.functions.TextFunctions.Bm25Stats): Unit = {
    stagedFileAppend(stats.docLens.repartition(1).sortWithinPartitions("did"),
      s"$dir/doc_len", "delta-v000000")
    stagedVersionDir(dir, 0L, stats.termDf, stats.corpus)
  }

  /** Latest committed stats version (the version-dir rename is the
    * commit). Exact v=NNNNNN only: a crash-orphaned stage dir must
    * never read as committed. */
  def latestStatsVersion(dir: String): Long = {
    val vs = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v=\\d{6}"))
      .map(_.getName.drop(2).toLong).sorted
    require(vs.nonEmpty, s"no committed stats version under $dir")
    vs.last
  }

  /** Read the maintained stats triple (latest committed version). */
  def readStatsStore(spark: SparkSession, dir: String)
      : graft.functions.TextFunctions.Bm25Stats = {
    val v = f"v=${latestStatsVersion(dir)}%06d"
    graft.functions.TextFunctions.Bm25Stats(
      spark.read.parquet(s"$dir/doc_len"),
      spark.read.parquet(s"$dir/$v/term_df"),
      spark.read.parquet(s"$dir/$v/corpus"))
  }

  /** Fold a posting-store DELTA ([[graft.functions.TextFunctions.
    * bm25PostingsDelta]]'s rows, already persisted to the posting
    * store) into the stats store as version `version` (default: latest
    * + 1; the streaming twin passes batchId + 1 so a replayed trigger
    * folds the same version). O(batch + vocab) jobs only. Returns
    * false — a no-op — when `version` is already committed. Gated
    * equal to the from-scratch re-derive by the t43 gate law via
    * [[graft.functions.TextFunctions.bm25StatsAppend]], which this
    * persists. */
  def appendStatsStore(spark: SparkSession, dir: String, delta: DataFrame,
                       version: Long = -1L): Boolean = {
    import graft.functions.TextFunctions
    val latest = latestStatsVersion(dir)
    val v = if (version < 0) latest + 1 else version
    if (v <= latest) return false // committed — the replay no-op
    val merged = TextFunctions.bm25StatsAppend(readStatsStore(spark, dir), delta)
    // doc_len first (idempotent per-version file), version rename last:
    // the rename is the commit, so a crash between the two re-folds
    // cleanly — the doc_len file is skipped, the version recomputed
    stagedFileAppend(TextFunctions.bm25DocLens(delta)
      .repartition(1).sortWithinPartitions("did"), s"$dir/doc_len",
      f"delta-v$v%06d")
    stagedVersionDir(dir, v, merged.termDf, merged.corpus)
    true
  }

  /** Stage one version dir (term_df + corpus) and commit it with a
    * single atomic whole-dir rename. */
  private def stagedVersionDir(dir: String, v: Long, termDf: DataFrame,
                               corpus: DataFrame): Unit = {
    val stage = new java.io.File(dir, f".stage-v$v%06d")
    graft.core.Caching.deleteRecursively(stage)
    termDf.repartition(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$stage/term_df")
    corpus.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$stage/corpus")
    val dest = new java.io.File(dir, f"v=$v%06d")
    graft.core.Caching.deleteRecursively(dest)
    java.nio.file.Files.move(stage.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Stage a frame as ONE parquet file, then rename it into `destDir`
    * as `<name>.parquet` — atomic, and a no-op if that file already
    * exists (the per-version idempotence doc_len relies on). */
  private def stagedFileAppend(df: DataFrame, destDir: String,
                               name: String): Unit = {
    val dest = java.nio.file.Paths.get(destDir, s"$name.parquet")
    if (java.nio.file.Files.exists(dest)) return
    val stage = s"$destDir.stage-$name"
    df.write.mode(SaveMode.Overwrite).parquet(stage)
    val parts = Option(new java.io.File(stage).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    require(parts.size <= 1,
      s"staged write to $destDir must be one file, got ${parts.size}")
    new java.io.File(destDir).mkdirs()
    parts.foreach(f => java.nio.file.Files.move(f.toPath, dest,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE))
    graft.core.Caching.deleteRecursively(new java.io.File(stage))
  }
}
