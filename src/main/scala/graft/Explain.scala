package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection main: prints the formatted physical plan of the given
  * queries (default: a representative subset) at the given sf dir.
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q3_shipping_priority", "s8_block_entries", "n1_block_locations", "p1_indexed_find")
    val spark = graft.core.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      planViews.getOrElse(n, SparkEntry.queries(n))(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }

  /** Ops whose public form collapses to a driver-local work list expose
    * their distributed stage here so plan audits still see it. */
  private val planViews: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map(
      "n6_under_replicated" -> { (s, dir) =>
        graft.model.DerivedState.register(s, dir)
        graft.analytics.Dataflows.underReplicatedPruned(
          s.table("block"), s.table("file"), s.table("datanode"),
          graft.model.DerivedState.NowMs, k = 100)
      },
      // n_block_received's receipt-script frame, both sourcings — the
      // final plan of the gate entry only shows checkpoint scans, so the
      // derivation-fusion evidence (r20) lives in THIS intermediate
      // frame: the views form re-derives block per reference, the pinned
      // form reads the one localCheckpoint
      "n_block_received_ops_views" -> { (s, dir) =>
        graft.model.DerivedState.register(s, dir)
        s.sql(graft.queries.AnalyticsQueries.BlockReceivedOpsSql)
      },
      "n_block_received_ops_pinned" -> { (s, dir) =>
        graft.model.DerivedState.register(s, dir)
        graft.queries.AnalyticsQueries.pinnedBlockReported(s)._3
      })
}
