package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One differential gate entry: the Spark evaluation `run(spark, sfDir)`
  * and the DuckDB `oracle` SQL whose rows it must hash-match, declared
  * together so no entry exists without its oracle. `headline` puts the
  * entry in Bench's timed set ([[SparkEntry.benchQueries]]). */
final case class GateEntry(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String,
    /** Replay the oracle with every CTE AS MATERIALIZED
      * ([[graft.model.DerivedState.materializeCtes]]), for oracles whose
      * DuckDB replay was dominated by per-reference CTE re-inlining
      * (DuckDB 1.0 inlines every CTE reference, so a chain re-reading a
      * mid-chain CTE k times re-evaluates everything beneath it k times).
      * Blanket AS MATERIALIZED is row-identical by definition and was
      * verified + measured per entry at sf0.1 (r15): n_trash 66→0.9 s,
      * sim10 29→0.7 s, sim9 21→0.6 s, sim7 25→16 s, n_block_received
      * 34→18 s, n_block_sync 4.1→0.8 s, sim3/sim4/sim8/sim11 ~3-4→≤1 s,
      * d7 3.5→1.2 s, d16 3.4→1.3 s, bal4 2.9→2.1 s. NOT applied
      * globally: some oracles are faster inlined (filter pushdown into
      * the CTE — n11_fsck_move measured 2.5→3.3 s under blanket marks and
      * keeps hand-placed ones). */
    materializeOracle: Boolean = false,
    headline: Boolean = false)

object GateEntry {

  /** The entries of `groups` in order; a name declared twice fails here
    * instead of one entry silently replacing the other. */
  def registry(groups: Seq[GateEntry]*): Seq[GateEntry] = {
    val all = groups.flatten
    val dups = all.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate gate entries: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
}
