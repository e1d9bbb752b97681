package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.state.StateManager

/** Cluster re-balancer planner (reference:
  * adfs-hdfs/src/main/java/org/apache/hadoop/hdfs/server/balancer/Balancer.java).
  *
  * The reference balancer is a single-process planner: it pulls the LIVE
  * datanode report, classifies each node against the cluster-average
  * utilization ± threshold (:986-1022), greedily pairs over-utilized
  * sources with under-utilized targets — same rack first, then across
  * racks (:1044-1101) — and schedules block moves per pair subject to the
  * good-candidate rack rule (:1369-1408). Byte transport is out of scope
  * here (SURVEY §2.5 F10); what this object computes is the PLAN — the
  * per-node classification, the (source, target, bytes) pair schedule and
  * the per-pair block pick — as declarative dataflows.
  *
  * Two deliberate deviations from the reference, both documented because
  * the reference's own choices cannot be reproduced or don't scale:
  *
  *  - Determinism: `initNodes` shuffles the node array (:936-944) to
  *    randomize matching. A plan query must be replayable, so nodes are
  *    processed in ascending id order instead.
  *  - Pairing is capacity-packing, not iterator-walking: the reference
  *    threads a shared Java iterator through the candidate list, which
  *    permanently skips a partially-filled target within a pass
  *    (:1141-1186 — the iterator never rewinds). Here each pass matches
  *    the cumulative-sum intervals of source availabilities against
  *    target availabilities, which allocates at least as many bytes,
  *    keeps the same pass order (over→under, over→belowAvg,
  *    aboveAvg→under; same-rack passes before cross-rack, :1081-1100).
  *    Up to [[PairsDriverLimit]] live nodes the passes run on the driver
  *    over the collected node report, as the single-process reference
  *    does; above it they run as window functions.
  *
  * In the window form, same-rack passes run partitioned by rack and
  * cross-rack passes over the whole (node-count-bounded) dimension, so
  * the single global window is bounded by the cluster size, not the
  * data volume. Cross-rack
  * passes cannot produce a same-rack pair: availabilities only decrease,
  * and the matching same-rack pass has already driven one side of every
  * (rack, class-pair) to zero — BalancerSpec pins that invariant.
  */
object Balancer {

  /** Per-node per-iteration move cap, 10 GB (Balancer.java:496). */
  val MaxSizeToMove: Long = 10L * 1024 * 1024 * 1024

  /** The six matching passes in reference order (chooseNodes :1044-1100):
    * (source class, target class, same-rack?). */
  private val Passes: Seq[(String, String, Boolean)] = Seq(
    ("overUtilized", "underUtilized", true),
    ("overUtilized", "belowAvgUtilized", true),
    ("aboveAvgUtilized", "underUtilized", true),
    ("overUtilized", "underUtilized", false),
    ("overUtilized", "belowAvgUtilized", false),
    ("aboveAvgUtilized", "underUtilized", false))

  private def liveReport(datanode: DataFrame, nowMs: Long): DataFrame =
    datanode.filter(col("version") > 0)
      .filter(col("lastUpdated") >= nowMs - StateManager.HeartbeatExpiryMs)
      .filter(col("adminState") === "NORMAL")
      // capacity 0 (fresh registration, all volumes failed): the
      // reference's IEEE arithmetic turns it into a NaN utilization that
      // silently poisons the schedule; under Spark's default ANSI mode
      // the division would throw DIVIDE_BY_ZERO instead. A node with no
      // capacity can neither donate a meaningful utilization nor receive
      // bytes — exclude it up front.
      .filter(col("capacity") > 0L)

  /** Full-precision classification: per live NORMAL node, its utilization,
    * class and byte quota. Kept private because the double-valued columns
    * are not an oracle-safe surface; [[classify]] projects fixed-point.
    *
    * Arithmetic mirrors the reference expression-for-expression so the
    * IEEE results agree with any faithful re-implementation:
    * utilization = dfsUsed*100.0/capacity (getUtilization :490);
    * avgUtilization = (Σused/Σcap)*100 (:988 — note the DIFFERENT op
    * order vs per-node); maxSizeToMove per the BalancerDatanode
    * constructor (:509-523) — threshold slice when outside the band,
    * |avg−u| slice inside it, capped by remaining space on the target
    * side and by [[MaxSizeToMove]]; Java's (long) casts truncate toward
    * zero, as does Spark's cast to long. */
  private def classifyFull(datanode: DataFrame, nowMs: Long,
                           thresholdPct: Double): DataFrame = {
    val nodes = liveReport(datanode, nowMs)
      .select(col("id"), col("location"), col("capacity"), col("dfsUsed"),
        col("remaining"))
    val totals = nodes.agg(
      (sum(col("dfsUsed")).cast("double") / sum(col("capacity")) * 100.0)
        .as("avgUtilization"))
    val t = lit(thresholdPct)
    val u = col("dfsUsed") * 100.0 / col("capacity")
    val avg = col("avgUtilization")
    val m0 = when(u >= avg + t || u <= avg - t,
        (t * col("capacity") / 100.0).cast("long"))
      .otherwise((abs(avg - u) * col("capacity") / 100.0).cast("long"))
    val m1 = when(u < avg, least(col("remaining"), m0)).otherwise(m0)
    nodes.crossJoin(broadcast(totals))
      .withColumn("utilization", u)
      // initNodes :991-1013: u > avg is the source side (over vs aboveAvg
      // split at avg+t); u <= avg is the target side — and u == avg falls
      // through isBelowAvgUtilized's strict u < avg into the under list
      // (the reference's own disabled-assert case, :1007-1009)
      .withColumn("nodeClass",
        when(col("utilization") > avg,
          when(col("utilization") > avg + t, lit("overUtilized"))
            .otherwise(lit("aboveAvgUtilized")))
        .otherwise(
          when(col("utilization") >= avg - t && col("utilization") < avg,
            lit("belowAvgUtilized"))
          .otherwise(lit("underUtilized"))))
      .withColumn("maxSizeToMove", least(lit(MaxSizeToMove), m1))
  }

  /** Per-node balancer classification — id, location, nodeClass,
    * maxSizeToMove, and the utilization in truncated basis points
    * (fixed-point, hash-stable across engines). */
  def classify(datanode: DataFrame, nowMs: Long,
               thresholdPct: Double): DataFrame =
    classifyFull(datanode, nowMs, thresholdPct)
      .select(col("id"), col("location"), col("nodeClass"),
        col("maxSizeToMove"),
        (col("utilization") * 10000.0).cast("long").as("utilBp"))

  /** Cluster imbalance: Σ over-the-band bytes on each side and the bytes
    * that must move for the cluster to be balanced —
    * max(overLoaded, underLoaded) (initNodes :999-1031). Per-node slices
    * truncate before summing, as the reference's per-node (long) does. */
  def imbalance(datanode: DataFrame, nowMs: Long,
                thresholdPct: Double): DataFrame = {
    val t = lit(thresholdPct)
    classifyFull(datanode, nowMs, thresholdPct).agg(
      coalesce(sum(when(col("nodeClass") === "overUtilized",
        ((col("utilization") - col("avgUtilization") - t)
          * col("capacity") / 100.0).cast("long"))), lit(0L))
        .as("overLoadedBytes"),
      coalesce(sum(when(col("nodeClass") === "underUtilized",
        ((col("avgUtilization") - t - col("utilization"))
          * col("capacity") / 100.0).cast("long"))), lit(0L))
        .as("underLoadedBytes"))
      .withColumn("bytesLeftToMove",
        greatest(col("overLoadedBytes"), col("underLoadedBytes")))
  }

  /** One capacity-packing pass: match the id-ordered cumulative-sum
    * intervals of source availability against target availability —
    * within each rack when `sameRack`, globally otherwise. A pair is an
    * overlap of one source interval with one target interval; its size is
    * the overlap length. Consumes availability exactly (Σ pair sizes per
    * node ≤ its avail; the shorter side drains to zero). */
  private def packPass(src: DataFrame, tgt: DataFrame,
                       sameRack: Boolean): DataFrame = {
    val ws = if (sameRack) Window.partitionBy(col("location")).orderBy(col("id"))
             else Window.orderBy(col("id"))
    val s = src.filter(col("avail") > 0)
      .withColumn("sEnd", sum(col("avail")).over(ws))
      .withColumn("sStart", col("sEnd") - col("avail"))
      .select(col("id").as("sourceId"), col("location").as("sRack"),
        col("sStart"), col("sEnd"))
    val g = tgt.filter(col("avail") > 0)
      .withColumn("tEnd", sum(col("avail")).over(ws))
      .withColumn("tStart", col("tEnd") - col("avail"))
      .select(col("id").as("targetId"), col("location").as("tRack"),
        col("tStart"), col("tEnd"))
    val rackCond = if (sameRack) col("sRack") === col("tRack") else lit(true)
    s.join(g, rackCond && col("sStart") < col("tEnd")
        && col("tStart") < col("sEnd"))
      .select(col("sourceId"), col("targetId"),
        (least(col("sEnd"), col("tEnd"))
          - greatest(col("sStart"), col("tStart"))).as("moveSize"))
      .filter(col("moveSize") > 0)
  }

  /** Node-count cap for the driver-side pair-packing fast path: the
    * classification is one row per live datanode (the reference balancer
    * holds exactly this report in a single process), so collecting it is
    * dimension-bounded by construction — 500k nodes ≈ 25 MB of rows, far
    * beyond any real cluster. Above the cap, [[pairs]] falls back to the
    * original window-dataflow passes. */
  val PairsDriverLimit: Int = 500000

  /** One capacity-packing pass, driver-side — EXACTLY [[packPass]]'s
    * semantics on collected rows: id-ordered cumulative-sum intervals of
    * source vs target availability (per rack when `sameRack`), a pair per
    * strict interval overlap, sized by the overlap. Nodes are
    * (id, location, avail). */
  private def packPassLocal(src: Seq[(Long, String, Long)],
                            tgt: Seq[(Long, String, Long)],
                            sameRack: Boolean): Seq[(Long, Long, Long)] = {
    def intervals(ns: Seq[(Long, String, Long)])
        : Map[String, IndexedSeq[(Long, Long, Long)]] = {
      // (id, start, end) per rack key ("" = global), ids ascending —
      // Window.partitionBy(location).orderBy(id) / Window.orderBy(id).
      // A null location has no rack: packPass's rack-equality join never
      // matches NULL, so same-rack passes skip those nodes (cross-rack
      // passes still pair them).
      val grouped =
        if (sameRack) ns.filter(n => n._3 > 0 && n._2 != null).groupBy(_._2)
        else Map("" -> ns.filter(_._3 > 0))
      grouped.map { case (k, g) =>
        var cum = 0L
        k -> g.sortBy(_._1).map { case (id, _, avail) =>
          val start = cum; cum += avail; (id, start, cum)
        }.toIndexedSeq
      }
    }
    val sIv = intervals(src)
    val tIv = intervals(tgt)
    sIv.toSeq.sortBy(_._1).flatMap { case (rack, ss) =>
      val ts = tIv.getOrElse(rack, IndexedSeq.empty)
      // strict-overlap join: sStart < tEnd && tStart < sEnd, size =
      // min(ends) − max(starts) (> 0 exactly when the overlap is strict)
      for {
        (sid, ss0, se0) <- ss
        (tid, ts0, te0) <- ts
        if ss0 < te0 && ts0 < se0
      } yield (sid, tid, math.min(se0, te0) - math.max(ss0, ts0))
    }
  }

  /** The full pair schedule: six packing passes in the reference's
    * chooseNodes order, each consuming the availability the previous
    * passes left. Output: (pass, sourceId, targetId, moveSize).
    *
    * Fast path (r20, guide §1.2/§5): the whole schedule is arithmetic
    * over the node DIMENSION — the original per-pass dataflow spent
    * 7 localCheckpoint actions (~3.5 s at sf0.1) scheduling jobs over
    * ~40-row frames. Up to [[PairsDriverLimit]] nodes the passes run
    * driver-side on the collected classification ([[packPassLocal]],
    * same interval semantics pass for pass — BalancerSpec pins the
    * equivalence) in ONE Spark action; beyond it the dataflow path is
    * kept verbatim. */
  def pairs(datanode: DataFrame, nowMs: Long,
            thresholdPct: Double): DataFrame = {
    val clsFrame = classifyFull(datanode, nowMs, thresholdPct)
      .select(col("id"), col("location"), col("nodeClass"),
        col("maxSizeToMove"))
    val probe = clsFrame.limit(PairsDriverLimit + 1).collect()
    if (probe.length <= PairsDriverLimit) {
      val spark = datanode.sparkSession
      import spark.implicits._
      val avails = scala.collection.mutable.Map(
        Seq("overUtilized", "aboveAvgUtilized", "underUtilized",
          "belowAvgUtilized").map { k =>
          k -> probe.toSeq.filter(_.getString(2) == k)
            .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
        }: _*)
      val out = Seq.newBuilder[(Long, Long, Long, Long)]
      Passes.zipWithIndex.foreach { case ((sk, tk, sameRack), i) =>
        val p = packPassLocal(avails(sk), avails(tk), sameRack)
        out ++= p.map { case (s, t, m) => (i + 1L, s, t, m) }
        def consume(ns: Seq[(Long, String, Long)], used: Map[Long, Long]) =
          ns.map { case (id, loc, avail) =>
            (id, loc, avail - used.getOrElse(id, 0L)) }
        avails(sk) = consume(avails(sk),
          p.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum })
        avails(tk) = consume(avails(tk),
          p.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum })
      }
      return out.result()
        .toDF("pass", "sourceId", "targetId", "moveSize")
    }
    pairsDataflow(clsFrame)
  }

  /** The original window-dataflow pass loop — [[pairs]]'s over-cap
    * fallback, kept verbatim and spec-compared against the driver path
    * (BalancerSpec). `clsFrame`: (id, location, nodeClass,
    * maxSizeToMove). */
  private[graft] def pairsDataflow(clsFrame: DataFrame): DataFrame = {
    val cls = clsFrame
      // the node table is a dimension: one small driver-free frame reused
      // by all six passes
      .localCheckpoint()
    def availOf(klass: String): DataFrame = cls
      .filter(col("nodeClass") === klass)
      .select(col("id"), col("location"),
        col("maxSizeToMove").as("avail"))
    val avails = scala.collection.mutable.Map(
      "overUtilized" -> availOf("overUtilized"),
      "aboveAvgUtilized" -> availOf("aboveAvgUtilized"),
      "underUtilized" -> availOf("underUtilized"),
      "belowAvgUtilized" -> availOf("belowAvgUtilized"))
    var out: DataFrame = null
    Passes.zipWithIndex.foreach { case ((sk, tk, sameRack), i) =>
      val p = packPass(avails(sk), avails(tk), sameRack)
        .withColumn("pass", lit(i + 1L))
        // materialize: each pass's output feeds BOTH the union and two
        // avail updates — without this the lineage re-derives per use
        .localCheckpoint()
      out = if (out == null) p else out.unionByName(p)
      def consume(avail: DataFrame, idCol: String): DataFrame =
        avail.join(p.groupBy(col(idCol).as("__cid"))
            .agg(sum(col("moveSize")).as("__used")),
            col("id") === col("__cid"), "left")
          .withColumn("avail", col("avail") - coalesce(col("__used"), lit(0L)))
          .select(col("id"), col("location"), col("avail"))
      avails(sk) = consume(avails(sk), "sourceId")
      avails(tk) = consume(avails(tk), "targetId")
    }
    out.select(col("pass"), col("sourceId"), col("targetId"), col("moveSize"))
  }

  /** Per-pair block pick (dispatchBlocks :640-676 + isGoodBlockCandidate
    * :1369-1408): for each scheduled (source, target) pair, the finalized
    * blocks living on the source that
    *  - have no replica on the target already (:1375),
    *  - satisfy the rack rule: same-rack move is always good; a
    *    cross-rack move is good only if no replica sits on the target's
    *    rack (the move ADDS a rack) or another replica shares the
    *    source's rack (the move keeps rack count, :1380-1406),
    *  - are claimed by only one pair (movedBlocks, :1372 — ties broken by
    *    (pass, sourceId, targetId) order),
    * taken in block-id order until the pair's byte budget is filled
    * (cumulative length ≤ moveSize — a prefix cut: once the running
    * total passes the budget, later even-smaller blocks are out too, so
    * a pair is never overshot). The claim happens BEFORE the budget cut — a block that
    * loses the budget race on its claimed pair is not re-offered to a
    * later pair (the reference re-offers from its live queue; a
    * deterministic plan can't, and under-scheduling a pair only defers
    * bytes to the next balancer iteration). Block length is the freshest
    * replica's (BlockEntry argmax convention) — the reference trusts
    * getBlocks' stored length the same way. */
  def movePlan(pairsDf: DataFrame, block: DataFrame, datanode: DataFrame,
               nowMs: Long): DataFrame = {
    val rack = liveReport(datanode, nowMs)
      .select(col("id").as("__nid"), col("location").as("__rack"))
    val b = block.filter(col("version") > 0)
    val ord = struct(col("generationStamp"), col("version"))
    // one row per (block, holder-rack) + the block's freshest length
    val replicas = b.groupBy(col("id").as("blockId"))
      .agg(max_by(col("length"), ord).as("blockLength"),
        collect_set(col("datanodeId")).as("holders"))
      .filter(col("blockLength") > 0)
      .withColumn("holderId", explode(col("holders")))
      // INNER join: holders on dead/decommissioning nodes are dropped from
      // locs, matching the reference's unknown-datanode filter in
      // getBlockList ("datanode != null"). A left join would carry a null
      // rack into exists(), whose three-valued logic silently turns the
      // rack-safety filter into NULL and drops good candidates. Broadcast:
      // the exploded replica frame is the widest in the plan and the rack
      // dimension is node-count-bounded — without the hint Spark's size
      // estimate over this derived frame can pick a sort-merge that
      // shuffles the whole melt.
      .join(broadcast(rack), col("holderId") === col("__nid"))
      .groupBy(col("blockId"), col("blockLength"))
      .agg(collect_set(struct(col("holderId"), col("__rack"))).as("locs"))
    val p = pairsDf
      .join(rack.select(col("__nid").as("sourceId"), col("__rack").as("sourceRack")), "sourceId")
      .join(rack.select(col("__nid").as("targetId"), col("__rack").as("targetRack")), "targetId")
    // blocks reach their pairs through an EQUI-join on the holding node —
    // the block side shuffles by holder id once; the pair side is a
    // broadcast dimension. (A predicate join of pairs × blocks would be a
    // cross product at scale.)
    val perSource = replicas
      .withColumn("holder", explode(col("locs")))
      .select(col("blockId"), col("blockLength"), col("locs"),
        col("holder")("holderId").as("sourceId"))
    val onTarget = exists(col("locs"), l => l("holderId") === col("targetId"))
    val onTargetRack = exists(col("locs"), l => l("__rack") === col("targetRack"))
    val otherOnSourceRack = exists(col("locs"),
      l => l("holderId") =!= col("sourceId") && l("__rack") === col("sourceRack"))
    val good = col("sourceRack") === col("targetRack") ||
      !onTargetRack || otherOnSourceRack
    val candidates = perSource.join(broadcast(p), Seq("sourceId"))
      .filter(!onTarget && good)
    // movedBlocks: each block belongs to its first pair in pass order
    val claimW = Window.partitionBy(col("blockId"))
      .orderBy(col("pass"), col("sourceId"), col("targetId"))
    val budgetW = Window.partitionBy(col("pass"), col("sourceId"), col("targetId"))
      .orderBy(col("blockId"))
    candidates
      .withColumn("__claim", row_number().over(claimW))
      .filter(col("__claim") === 1)
      .withColumn("__cum", sum(col("blockLength")).over(budgetW))
      .filter(col("__cum") <= col("moveSize"))
      .select(col("pass"), col("sourceId"), col("targetId"), col("blockId"),
        col("blockLength"))
  }
}
