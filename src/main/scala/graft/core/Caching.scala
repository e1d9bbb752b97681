package graft.core

import org.apache.spark.sql.DataFrame

/** Pin ownership for multi-pass helpers. One rule: `persist` never
  * leaves the function that called it, and no frame a caller receives
  * needs a release.
  *
  * A helper that reads an intermediate more than once (a recursion
  * frontier, LSH signatures, IVF cell assignments) may persist it, but
  * hands its output back through [[materializeAndRelease]]: the output
  * is taken as an eager localCheckpoint, and only then are the
  * intermediates released. The checkpoint is the output's own copy, so
  * every intermediate can go, and its blocks are freed when the caller
  * drops the frame (ContextCleaner) — or at once with [[free]].
  */
object Caching {

  /** Release a frame pinned by persist() OR localCheckpoint().
    *
    * The two pin mechanisms need DIFFERENT releases, and each one's
    * release breaks the other:
    *  - a localCheckpoint's storage lives on the checkpointed RDD
    *    itself, which the CacheManager never sees — Dataset.unpersist
    *    on such a frame frees nothing, so iterative loops accumulate a
    *    corpus copy per round until driver GC + ContextCleaner catch
    *    up (the round-12 review finding). The release drops the
    *    `LogicalRDD`'s RDD from the SparkContext, as `RDD.unpersist`
    *    does without its WARN about the truncated lineage.
    *  - conversely, calling Dataset.unpersist alongside is NOT a
    *    harmless no-op there: uncacheQuery matches cached entries by
    *    NORMALIZED plan, under which distinct checkpoint generations of
    *    the same loop compare equal — measured in DataOpsSpec's
    *    dupClusters tests, it invalidated the LIVE round's checkpoint
    *    blocks while releasing the previous round's
    *    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the next iteration).
    * Only call once the last consumer of the frame has materialized:
    * a localCheckpoint has no lineage to recompute from. */
  def free(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      org.apache.spark.graftbridge.RddBridge.release(lr.rdd)
    case _ => df.unpersist(blocking = false)
  }

  /** `out` as an eager localCheckpoint, with `intermediates` released
    * whether or not the checkpoint succeeds. */
  def materializeAndRelease(out: DataFrame, intermediates: Seq[DataFrame]): DataFrame =
    try out.localCheckpoint()
    finally intermediates.foreach(free)

  /** Session-scoped scratch space: every staging dir (SequenceFile dumps,
    * stream checkpoints/feeds) lives under ONE per-JVM root removed by a
    * shutdown hook — repeated gate runs must not accumulate /tmp. */
  lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-scratch-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(root.toFile)))
    root
  }

  def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  def deleteRecursively(f: java.io.File): Unit = {
    // never follow symlinks: staging dirs may link to SOURCE datasets
    // (e.g. the e4 events.parquet link) — delete the link, not the target
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
    ()
  }
}
