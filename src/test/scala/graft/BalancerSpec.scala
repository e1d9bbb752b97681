package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.Balancer

/** Balancer planner golden tests (Balancer.java classification :986-1013,
  * BalancerDatanode quota :509-523, chooseNodes pass order :1044-1100,
  * isGoodBlockCandidate :1369-1408) on a hand-computed 6-node cluster.
  *
  * Fixture: capacity 10000 everywhere, threshold 10%.
  * used: n1=5000 n2=1000 n3=4000 n4=2500 n5=1500 n6=2000 → avg=26.666…%.
  * rackA = {n1,n2,n5}, rackB = {n3,n4,n6}; n2's remaining is 300 to pin
  * the target-side remaining cap. Expected classes:
  * over {n1(u50), n3(u40)}, under {n2(u10), n5(u15)},
  * belowAvg {n4(u25), n6(u20)}, aboveAvg {}. */
class BalancerSpec extends SparkSpec {
  import spark.implicits._

  private val now = 1700000000000L
  private val t = 10.0

  private def dn(id: Long, used: Long, rack: String,
                 remaining: Long = 9000L): (Long, Long, Long, Long, Long, String, String, Long) =
    (id, 10000L, used, remaining, now, rack, "NORMAL", id)

  private lazy val datanode: DataFrame = Seq(
    dn(1L, 5000L, "/rackA"),
    dn(2L, 1000L, "/rackA", remaining = 300L),
    dn(3L, 4000L, "/rackB"),
    dn(4L, 2500L, "/rackB"),
    dn(5L, 1500L, "/rackA"),
    dn(6L, 2000L, "/rackB"),
    // excluded rows: decommissioning, one dead (stale heartbeat), and a
    // capacity-0 registration — its division would throw under ANSI mode
    // and its NaN utilization would poison the schedule in IEEE mode
    (7L, 10000L, 9000L, 1000L, now, "/rackA", "DECOMMISSION_INPROGRESS", 7L),
    (8L, 10000L, 9000L, 1000L, now - 700000L, "/rackB", "NORMAL", 8L),
    (9L, 0L, 0L, 0L, now, "/rackA", "NORMAL", 9L),
  ).toDF("id", "capacity", "dfsUsed", "remaining", "lastUpdated",
    "location", "adminState", "version")

  test("classify: utilization classes, quota math, excluded nodes") {
    val out = rows(Balancer.classify(datanode, now, t)
        .select(col("id"), col("nodeClass"), col("maxSizeToMove"))
        .orderBy(col("id")))
      .map(r => r.head -> (r(1), r(2))).toMap
    assert(out == Map(
      1L -> ("overUtilized", 1000L),     // 10% of capacity
      2L -> ("underUtilized", 300L),     // remaining caps the 1000 slice
      3L -> ("overUtilized", 1000L),
      4L -> ("belowAvgUtilized", 166L),  // trunc(|avg-25|% of cap)
      5L -> ("underUtilized", 1000L),
      6L -> ("belowAvgUtilized", 666L))) // trunc(|avg-20|% of cap)
  }

  test("classify: u == avg falls into the under list (disabled-assert edge)") {
    val even = Seq(dn(1L, 2000L, "/r0"), dn(2L, 2000L, "/r0"))
      .toDF("id", "capacity", "dfsUsed", "remaining", "lastUpdated",
        "location", "adminState", "version")
    val out = rows(Balancer.classify(even, now, t)
      .select(col("id"), col("nodeClass"), col("maxSizeToMove")))
    assert(out.forall(r => r(1) == "underUtilized" && r(2) == 0L))
  }

  test("imbalance: per-node truncated slices, max of the two sides") {
    val out = rows(Balancer.imbalance(datanode, now, t)).head
    // over: n1 trunc((50-avg-10)%·cap)=1333, n3 333; under: n2 666, n5 166
    assert(out == Seq(1666L, 832L, 1666L))
  }

  test("pairs: six-pass schedule, same-rack first, quota-exact") {
    val out = rows(Balancer.pairs(datanode, now, t)
      .orderBy(col("pass"), col("sourceId"), col("targetId")))
    assert(out == Seq(
      Seq(1L, 1L, 2L, 300L),  // rackA over→under, capped by n2's remaining
      Seq(1L, 1L, 5L, 700L),  // rest of n1 drains into n5
      Seq(2L, 3L, 4L, 166L),  // rackB over→belowAvg
      Seq(2L, 3L, 6L, 666L),
      Seq(4L, 3L, 5L, 168L))) // cross-rack leftover: n3 → n5
    // invariants: scheduled ≤ quota per node; cross-rack passes produce
    // only cross-rack pairs
    val quota = rows(Balancer.classify(datanode, now, t)
      .select(col("id"), col("maxSizeToMove")))
      .map(r => r.head.asInstanceOf[Long] -> r(1).asInstanceOf[Long]).toMap
    val bySrc = out.groupBy(_(1)).map { case (k, v) =>
      k.asInstanceOf[Long] -> v.map(_(3).asInstanceOf[Long]).sum }
    val byTgt = out.groupBy(_(2)).map { case (k, v) =>
      k.asInstanceOf[Long] -> v.map(_(3).asInstanceOf[Long]).sum }
    bySrc.foreach { case (id, s) => assert(s <= quota(id)) }
    byTgt.foreach { case (id, s) => assert(s <= quota(id)) }
    val rack = Map(1L -> "A", 2L -> "A", 3L -> "B", 4L -> "B", 5L -> "A", 6L -> "B")
    out.filter(_.head.asInstanceOf[Long] > 3L).foreach { p =>
      assert(rack(p(1).asInstanceOf[Long]) != rack(p(2).asInstanceOf[Long]))
    }
  }

  test("pairs: driver fast path == window-dataflow fallback, pass for pass") {
    // pairs() runs the driver-side packing below PairsDriverLimit; the
    // over-cap fallback keeps the original window dataflow. Same
    // classification in, same (pass, source, target, bytes) multiset out.
    val fast = rows(Balancer.pairs(datanode, now, t)
      .orderBy(col("pass"), col("sourceId"), col("targetId")))
    val slow = rows(Balancer.pairsDataflow(
        Balancer.classify(datanode, now, t)
          .select(col("id"), col("location"), col("nodeClass"),
            col("maxSizeToMove")))
      .orderBy(col("pass"), col("sourceId"), col("targetId")))
    assert(fast == slow)
  }

  test("pairs: null-location nodes skip same-rack passes on both paths") {
    // capacity 10000, avg 26%: over {n1 /rackA, n3 null}, under
    // {n2 /rackA, n4 null, n5 /rackB}, every quota 1000. The dataflow's
    // rack-equality join never matches NULL, so n3/n4 must not pair in
    // the same-rack pass (and a null rack beside a named one must not
    // break the driver path's rack ordering); they meet cross-rack.
    val mixed = Seq(
      dn(1L, 5000L, "/rackA"),
      dn(2L, 1000L, "/rackA"),
      dn(3L, 5000L, null),
      dn(4L, 1000L, null),
      dn(5L, 1000L, "/rackB"),
    ).toDF("id", "capacity", "dfsUsed", "remaining", "lastUpdated",
      "location", "adminState", "version")
    val fast = rows(Balancer.pairs(mixed, now, t)
      .orderBy(col("pass"), col("sourceId"), col("targetId")))
    assert(fast == Seq(
      Seq(1L, 1L, 2L, 1000L),   // rackA same-rack
      Seq(4L, 3L, 4L, 1000L)))  // null-rack n3 only pairs cross-rack
    val slow = rows(Balancer.pairsDataflow(
        Balancer.classify(mixed, now, t)
          .select(col("id"), col("location"), col("nodeClass"),
            col("maxSizeToMove")))
      .orderBy(col("pass"), col("sourceId"), col("targetId")))
    assert(fast == slow)
  }

  test("movePlan: claim-once, target-exclusion, rack rule, byte budget") {
    // blocks on n1 (source of pairs 1→2 and 1→5, both same-rack) and on
    // n3 (source of 3→4, 3→6 same-rack and 3→5 cross-rack)
    val block = Seq(
      // b101-b103 held by n1 only: all claim to (1,n1,n2) (first pair in
      // pass order); budget 300 admits b101+b102 (cum 220) — b103 loses
      // the budget and, claim-once, is NOT re-offered to (1,n1,n5)
      (101L, 1L, 120L, 1L, 9L, 1L, 1L),
      (102L, 1L, 100L, 1L, 9L, 2L, 2L),
      (103L, 1L, 150L, 1L, 9L, 3L, 3L),
      // b104 held by n1 AND n2 → excluded for target n2, claimed by (1,n1,n5)
      (104L, 1L, 80L, 1L, 9L, 4L, 4L),
      (104L, 2L, 80L, 1L, 9L, 4L, 5L),
      // b105 on n3 + n1: held by n1 too, so it claims to (1,n1,n2) — and
      // sits past the budget prefix-cut there (after b103 the cumsum is
      // already over), so claim-once drops it from the whole plan
      (105L, 3L, 60L, 1L, 9L, 5L, 6L),
      (105L, 1L, 60L, 1L, 9L, 5L, 7L),
      // b106 on n3 + n6 (both rackB): excluded for target n6; claims the
      // (2,n3,n4) pair ahead of cross-rack (4,n3,n5)
      (106L, 3L, 90L, 1L, 9L, 6L, 8L),
      (106L, 6L, 90L, 1L, 9L, 6L, 9L),
    ).toDF("id", "datanodeId", "length", "generationStamp", "fileId",
      "fileIndex", "version")
    val pairs = Balancer.pairs(datanode, now, t)
    val out = rows(Balancer.movePlan(pairs, block, datanode, now)
      .select(col("pass"), col("sourceId"), col("targetId"), col("blockId"))
      .orderBy(col("pass"), col("targetId"), col("blockId")))
    assert(out == Seq(
      Seq(1L, 1L, 2L, 101L),
      Seq(1L, 1L, 2L, 102L),  // cum 220 ≤ 300; b103/b105 past the cut
      Seq(1L, 1L, 5L, 104L),  // excluded from n2 (replica there already)
      Seq(2L, 3L, 4L, 106L))) // b106's claim beats cross-rack (4,n3,n5)
  }

  test("movePlan: a holder on a dead node cannot veto a cross-rack move") {
    // two live nodes in different racks force the only pair cross-rack;
    // the extra replica sits on n9, whose heartbeat is stale. The
    // reference drops unknown datanodes from block.locations
    // (getBlockList's 'datanode != null'), so n9 must not appear in locs
    // — a left join would carry a NULL rack into exists() and
    // three-valued logic would silently drop the candidate.
    val dn2 = Seq(
      dn(1L, 5000L, "/rackA"),
      dn(2L, 1000L, "/rackB"),
      (9L, 10000L, 1000L, 9000L, now - 700000L, "/rackA", "NORMAL", 9L),
    ).toDF("id", "capacity", "dfsUsed", "remaining", "lastUpdated",
      "location", "adminState", "version")
    val block = Seq(
      (1L, 1L, 500L, 1L, 9L, 1L, 1L),
      (1L, 9L, 500L, 1L, 9L, 1L, 2L),
    ).toDF("id", "datanodeId", "length", "generationStamp", "fileId",
      "fileIndex", "version")
    val out = rows(Balancer.movePlan(Balancer.pairs(dn2, now, t), block, dn2, now)
      .select(col("pass"), col("sourceId"), col("targetId"), col("blockId")))
    assert(out == Seq(Seq(4L, 1L, 2L, 1L)))
  }
}
