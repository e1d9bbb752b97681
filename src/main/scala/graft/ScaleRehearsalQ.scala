package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables

/** TPC-H q-family scale rehearsal (local iteration; not part of the
  * driver contract): union-multiplies the sf0.1 relational set into
  * `copies` disjoint key ranges — 10 copies ≈ a real sf1 (6M-row
  * lineitem, dims scaled linearly exactly as dbgen scales them), 100 ≈
  * sf10 — writes it in the standard `table.parquet` layout, and runs
  * every q-family gate entry (q1-q27, v1-v3's relational members)
  * against it through the UNMODIFIED SparkEntry.queries functions, so
  * what is timed is precisely what the gate runs.
  *
  * Beyond wall times, the a-priori plan pyramids (q5, q9, q18) PLUS the
  * five most expensive queries BY MEASURED TIME in this run get a
  * physical-plan audit at scale: join strategies actually chosen,
  * shuffle-exchange count (BroadcastExchange excluded — ADVICE r16),
  * any CartesianProduct (there must be none). The r16 broadcast policy
  * (hints only on fixed-size dims and scalar aggregates; SF-growing
  * dims threshold-decided) is what this rehearsal exists to check: at
  * 10× the dims still broadcast via the size estimate, at 100× the
  * larger ones must flip to shuffle joins without a plan cliff.
  *
  * Timing follows the MIN-of-reps protocol ([[RehearsalUtil.timeReps]],
  * default 2 reps here, `SPARK_GRAFT_REHEARSAL_REPS` overrides): the
  * r16 100× pass ran each line once per full pass and its 2-10×
  * cross-pass spread made the absolute numbers weak evidence.
  *
  * Usage: runMain graft.ScaleRehearsalQ [sfDir] [copies]
  */
object ScaleRehearsalQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    RehearsalUtil.enforceHeapRule(copies.toDouble)
    val spark = graft.core.Sessions.local()
    val scratch = graft.core.Caching.scratchDir("rehearsal_q").toString
    val Off = 1000000000L

    val reps = RehearsalUtil.reps(default = 2)
    def time(name: String)(f: => Long): Double =
      RehearsalUtil.timeReps(spark, "rehearsal-q", name, reps)(f)
    // the one-shot build is never a recorded evidence line — single rep
    def timeOnce(name: String)(f: => Long): Double =
      RehearsalUtil.timeReps(spark, "rehearsal-q", name, 1)(f)

    // ---- build the copies× set in the standard sfDir layout -----------
    // Key shift per copy: every int64 PK/FK moves to a disjoint range,
    // so join fan-outs per key match the base table exactly (dbgen's
    // uniform FK ranges scale the same way). Names get a per-copy
    // suffix so name-grouped aggregates (q21's s_name) keep per-copy
    // cardinality instead of silently merging shards. nation/region
    // stay fixed — TPC-H dims that do NOT scale with SF.
    def shifted(t: String, keys: Seq[String], names: Seq[String]): DataFrame =
      (0 until copies).map { k =>
        val base = Tables.readDeclared(spark, sfDir, t)
        val withKeys = keys.foldLeft(base)((d, c) =>
          d.withColumn(c, col(c) + lit(k * Off)))
        names.foldLeft(withKeys)((d, c) =>
          d.withColumn(c, concat(col(c), lit(s"_$k"))))
      }.reduce(_ unionByName _)
    val tBuild = timeOnce(s"build ${copies}x relational") {
      shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), Nil)
        .write.mode("overwrite").parquet(s"$scratch/lineitem.parquet")
      shifted("orders", Seq("o_orderkey", "o_custkey"), Nil)
        .write.mode("overwrite").parquet(s"$scratch/orders.parquet")
      shifted("customer", Seq("c_custkey"), Seq("c_name"))
        .write.mode("overwrite").parquet(s"$scratch/customer.parquet")
      shifted("supplier", Seq("s_suppkey"), Seq("s_name"))
        .write.mode("overwrite").parquet(s"$scratch/supplier.parquet")
      shifted("part", Seq("p_partkey"), Nil)
        .write.mode("overwrite").parquet(s"$scratch/part.parquet")
      Seq("nation", "region", "events", "documents", "embeddings").foreach { t =>
        Tables.readDeclared(spark, sfDir, t)
          .write.mode("overwrite").parquet(s"$scratch/$t.parquet")
      }
      Tables.readDeclared(spark, scratch, "lineitem").count()
    }

    // ---- the full q-family through the gate's own query functions -----
    // SPARK_GRAFT_Q_ONLY: comma-separated subset for targeted
    // before/after lines (a full pass re-times 25+ queries to answer a
    // question about one); empty/unset = the full family
    val qOnly = sys.env.get("SPARK_GRAFT_Q_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val qNames = (SparkEntry.queries.keys.filter(n =>
      n.startsWith("q") && n.takeWhile(_ != '_').drop(1).forall(_.isDigit))
      .toSeq.sortBy(n => n.drop(1).takeWhile(_.isDigit).toInt) ++
      Seq("v1_profile", "v2_fk_orphans", "v3_quality_gate")) // relational v*
      .filter(n => qOnly.forall(_.contains(n)))
    val times = qNames.map { n =>
      n -> time(n) { SparkEntry.queries(n)(spark, scratch).count() }
    }

    // ---- plan audit: a-priori pyramids + top-5 BY MEASURED TIME -------
    // what the optimizer+AQE actually chose: per-join strategy, shuffle
    // exchange count, CartesianProduct presence (policy: zero, ever).
    // The r16 audit covered only the a-priori trio while the measured
    // 100× tail (q21/q20/q3/q2) went unaudited — exactly the shapes
    // (multi-self-join, min-cost join-back) where a duplicated fact scan
    // hides. Audit set = trio ∪ top-5 by this run's MIN-of-reps time.
    // a subset run audits only its own queries — the a-priori trio
    // belongs to the full-family pass
    val apriori = Seq("q5_local_supplier", "q9_product_profit",
      "q18_large_orders").filter(n => qOnly.forall(_.contains(n)))
    val top5 = times.sortBy(-_._2).take(5).map(_._1)
    (apriori ++ top5).distinct.foreach { n =>
      val df = SparkEntry.queries(n)(spark, scratch)
      df.count() // let AQE finalize so the executed plan is inspected
      RehearsalUtil.auditPlan("rehearsal-q", n,
        df.queryExecution.executedPlan.toString, s"${copies}x")
    }

    RehearsalUtil.checkBands(s"q$copies", times)
    val r = ("build" -> tBuild) +: times
    println(r.map { case (k, v) => s""""$k":$v""" }
      .mkString(s"""{"metric":"rehearsal_q","copies":$copies,"sf":"$sfDir",""",
        ",", "}"))
    spark.stop()
  }
}
