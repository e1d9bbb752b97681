package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.model.DerivedState

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Numeric policy for oracle parity (DuckDB runs `oracleSql` on the same
  * parquet): every aggregated double goes through a fixed-point decimal
  * cast BEFORE the aggregate, so the sum is exact and engine-independent,
  * then back to double at a coarse scale. Column names are aliased
  * identically on both sides; every query has a deterministic total order.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Decimal-exact sum of a double expression: cast each value to
    * DECIMAL(18,4) (well-defined rounding, identical in Spark/DuckDB),
    * sum exactly, return as double (exact-unscaled → correctly-rounded
    * conversion, identical in both engines). NB: do NOT downscale the
    * decimal first — DuckDB truncates decimal→decimal casts while Spark
    * rounds HALF_UP. */
  private def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Per-table row counts + id/version checksums of the derived state
    * tables — guards the Spark/DuckDB derivation against drift. Runs
    * verbatim in both engines. */
  private val stateChecksumSql: String =
    """SELECT t AS tbl, n, idsum, vsum FROM (
      |  SELECT 'file' AS t, COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS idsum,
      |         CAST(SUM(version) AS BIGINT) AS vsum FROM file
      |  UNION ALL
      |  SELECT 'block', COUNT(*), CAST(SUM(id) AS BIGINT), CAST(SUM(version) AS BIGINT) FROM block
      |  UNION ALL
      |  SELECT 'datanode', COUNT(*), CAST(SUM(id) AS BIGINT), CAST(SUM(version) AS BIGINT) FROM datanode
      |  UNION ALL
      |  SELECT 'lease', COUNT(*), CAST(SUM(version) AS BIGINT), CAST(SUM(version) AS BIGINT) FROM lease
      |  UNION ALL
      |  SELECT 'ops', COUNT(*), CAST(SUM(opKey) AS BIGINT), CAST(SUM(opVersion) AS BIGINT) FROM ops
      |) u ORDER BY tbl""".stripMargin

  /** Every gate entry, in registry order. */
  lazy val entries: Seq[GateEntry] = GateEntry.registry(Seq(
    GateEntry("q1_pricing_summary", { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin, headline = true),
    GateEntry("q6_revenue_forecast", { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter(
          $"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
          $"l_discount" >= 0.03 && $"l_discount" <= 0.07 &&
          $"l_quantity" < 24)
        .agg(dsum($"l_extendedprice" * $"l_discount").as("revenue"),
             count(lit(1)).as("n_items"))
    },
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
      headline = true),
    GateEntry("state_checksum", { (s, dir) =>
      DerivedState.register(s, dir)
      s.sql(stateChecksumSql)
    }, DerivedState.oracle(stateChecksumSql)),
  ), graft.queries.StateQueries.entries,
    graft.queries.AnalyticsQueries.entries,
    graft.queries.DataOpsQueries.entries,
    graft.queries.RelationalQueries.entries,
    graft.queries.MutationQueries.entries)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.run).toMap

  /** The SQL DuckDB replays per entry: its oracle, with every CTE
    * materialized where the entry asks for it. */
  lazy val oracleSql: Map[String, String] =
    entries.map(e => e.name ->
      (if (e.materializeOracle) DerivedState.materializeCtes(e.oracle) else e.oracle))
      .toMap

  /** The optional comma-separated subset a main runs instead of its full
    * set (Bench's `SPARK_GRAFT_BENCH_ONLY`, Verify's
    * `SPARK_GRAFT_VERIFY_ONLY`). Names are trimmed and empty tokens
    * dropped; an unset or empty value means no filter (None). Every name
    * must be a gate entry: a typo would otherwise run nothing and print
    * an empty result that reads as a pass or a speedup. */
  def subset(value: Option[String]): Option[Set[String]] = {
    val names = value.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty,
      s"not gate entries: ${unknown.toSeq.sorted.mkString(", ")}")
    Some(names).filter(_.nonEmpty)
  }

  /** Headline queries timed by Bench (a representative mix: scans/aggs,
    * multi-way joins, windows, recursion, reconciliation, dedup, ANN). */
  lazy val benchQueries: Seq[String] = entries.filter(_.headline).map(_.name)
}
