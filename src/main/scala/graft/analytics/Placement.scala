package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** N7 replica placement (ReplicationTargetChooser.java:77-178) — the
  * one topology-aware target choice of the reference, run as ONE
  * declarative dataflow over a broadcast topology snapshot.
  *
  * Case ladder (:138-178): 1st replica on the writer's rack, 2nd on a
  * remote rack, 3rd on the same rack as the 2nd — subject to
  * isGoodTarget (space, load, per-rack quota).
  */
object Placement {

  /** chooseTarget as candidate scoring (SURVEY §2.4 N7): the case
    * ladder and isGoodTarget checks, with the reference's random draw
    * replaced by a deterministic per-(request, node, slot) arithmetic
    * score, so the whole placement is ONE declarative dataflow a
    * differential oracle can replay — and the shape that places a
    * million blocks per tick on a real cluster, where a driver-side walk
    * would serialize.
    *
    * Per request (reqId, writerRack, blockSize), over live NORMAL nodes
    * (ReplicationTargetChooser.isGoodTarget :260-319): space
    * `remaining >= 2*blockSize`, load `xceiver <= 2*avg + 2` (compared
    * cross-multiplied so both engines stay in exact integer arithmetic),
    * per-rack quota `(want-1)/racks + 2` (:175-178 — with want=3 it can
    * only bind on the third slot, so slots 1-2 skip the count). The
    * ladder (:138-178) becomes slot-wise ORDER BY preference: slot 1
    * prefers the writer's rack, slot 2 a rack other than the first's,
    * slot 3 the second's rack — unless the first two share one, then a
    * remote rack — each falling back to any good candidate, tie-broken
    * by score then node id. Empty candidate sets simply emit fewer (or
    * no) slots, the reference's "cannot place" outcome.
    *
    * Scale: the node/stats dims broadcast into the request frame, so
    * candidate generation is a narrow map over the requests; every
    * window and slot self-join keys on reqId — no cross-request key
    * ever shuffles. The candidate frame is request-corpus-sized and so
    * deliberately NOT checkpointed (the one-copy convention): each slot
    * re-derives it from the broadcast join, and the slot joins run as
    * reqId-keyed sort-merge — ~four narrow scans plus reqId exchanges,
    * never anything quadratic. */
  def chooseTargetsScored(requests: DataFrame, datanode: DataFrame,
                          nowMs: Long): DataFrame = {
    val nodes = graft.state.StateManager.liveDatanodes(datanode, nowMs)
      .filter(col("adminState") === "NORMAL")
      .select(col("id").as("__nid"), col("location").as("__nrack"),
        col("remaining").as("__nrem"), col("xceiverCount").as("__nx"))
    val stats = nodes.agg(sum(col("__nx")).as("__sumL"),
      count(lit(1)).as("__nL"), countDistinct(col("__nrack")).as("__racks"))
    def score(slot: Int) =
      ((col("reqId") % 97) * 31 + col("__nid") * 17 + lit(slot * 7)) % 89
    val cand = requests
      .crossJoin(broadcast(nodes))
      .crossJoin(broadcast(stats))
      .filter(col("__nrem") >= col("blockSize") * 2 &&
        col("__nx") * col("__nL") <= col("__sumL") * 2 + col("__nL") * 2)
      .withColumn("__maxPerRack",
        lit(2L) + floor(lit(2.0) / col("__racks")).cast("long"))
    val w1 = Window.partitionBy(col("reqId")).orderBy(
      (col("__nrack") === col("writerRack")).desc, score(1), col("__nid"))
    val c1 = cand.withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") === 1)
      .select(col("reqId"), col("__nid").as("__dn1"), col("__nrack").as("__rack1"))
    val w2 = Window.partitionBy(col("reqId")).orderBy(
      (col("__nrack") =!= col("__rack1")).desc, score(2), col("__nid"))
    val c2 = cand.join(c1, Seq("reqId"))
      .filter(col("__nid") =!= col("__dn1"))
      .withColumn("__rn", row_number().over(w2))
      .filter(col("__rn") === 1)
      .select(col("reqId"), col("__nid").as("__dn2"), col("__nrack").as("__rack2"))
    val pref3 = when(col("__rack1") === col("__rack2"),
      col("__nrack") =!= col("__rack2")).otherwise(col("__nrack") === col("__rack2"))
    val w3 = Window.partitionBy(col("reqId")).orderBy(
      pref3.desc, score(3), col("__nid"))
    val c3 = cand.join(c1, Seq("reqId")).join(c2, Seq("reqId"))
      .filter(col("__nid") =!= col("__dn1") && col("__nid") =!= col("__dn2") &&
        when(col("__nrack") === col("__rack1"), 1L).otherwise(0L) +
          when(col("__nrack") === col("__rack2"), 1L).otherwise(0L) <
          col("__maxPerRack"))
      .withColumn("__rn", row_number().over(w3))
      .filter(col("__rn") === 1)
      .select(col("reqId"), col("__nid").as("__dn3"), col("__nrack").as("__rack3"))
    c1.select(col("reqId"), lit(1L).as("slot"),
        col("__dn1").as("datanodeId"), col("__rack1").as("rack"))
      .unionByName(c2.select(col("reqId"), lit(2L).as("slot"),
        col("__dn2").as("datanodeId"), col("__rack2").as("rack")))
      .unionByName(c3.select(col("reqId"), lit(3L).as("slot"),
        col("__dn3").as("datanodeId"), col("__rack3").as("rack")))
  }
}
