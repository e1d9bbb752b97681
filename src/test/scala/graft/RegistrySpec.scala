package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry: every entry carries its oracle, names are unique,
  * and the derived maps and lists the mains read agree with it. */
class RegistrySpec extends AnyFunSuite {

  private val MaterializedOracles = Set(
    "n_trash", "n_block_received", "n_block_sync", "bal4_moves",
    "sim3_ivf", "sim4_ivf_recall", "sim7_ann_multiprobe",
    "sim8_ivf_train_gain", "sim9_ivfpq_adc", "sim10_ivfpq_recall",
    "sim11_ivfpq_ingest", "d7_dup_clusters", "d16_cluster_best")

  private val Headline = Set(
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier", "q6_revenue_forecast", "q16_supplier_variety",
    "q18_large_orders",
    "s1_path_resolution", "s2_paths", "s8_block_entries",
    "n1_block_locations", "n5_block_report", "n6_under_replicated",
    "n11_fsck", "n15_content_summary", "r9_replay",
    "d1_exact_dedup", "d2_minhash_lsh", "d3_simhash",
    "sim1_knn_brute", "sim2_ann_lsh", "t2_quality_score",
    "e1_sessionize", "e2_window_agg")

  test("registry: 240 entries with unique names") {
    val names = SparkEntry.entries.map(_.name)
    assert(names.size == 240)
    assert(names.distinct.size == names.size)
  }

  test("queries and oracleSql cover the same names, every oracle non-empty") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == SparkEntry.entries.map(_.name).toSet)
    val empty = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(empty.isEmpty, s"entries with an empty oracle: $empty")
  }

  test("materializeOracle: the 13 flagged entries replay AS MATERIALIZED") {
    val flagged = SparkEntry.entries.filter(_.materializeOracle).map(_.name)
    assert(flagged.toSet == MaterializedOracles)
    assert(flagged.size == MaterializedOracles.size)
    flagged.foreach { n =>
      assert(SparkEntry.oracleSql(n).contains("AS MATERIALIZED"), n)
    }
  }

  test("benchQueries: the 24 headline entries") {
    assert(SparkEntry.benchQueries.size == 24)
    assert(SparkEntry.benchQueries.toSet == Headline)
  }

  test("registry: a name declared twice fails to build") {
    val first = SparkEntry.entries.head
    val e = intercept[IllegalArgumentException] {
      GateEntry.registry(SparkEntry.entries, Seq(first.copy(oracle = "SELECT 1")))
    }
    assert(e.getMessage.contains(first.name))
    intercept[IllegalArgumentException] {
      GateEntry.registry(Seq(first, first))
    }
  }
}
