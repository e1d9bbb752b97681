package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.GateEntry
import graft.core.Tables

/** Gate entries ([[graft.GateEntry]]) for TPC-H-shaped relational queries
  * exercising the P-layer algebra at bench scale: multi-way joins
  * (broadcast dims + shuffled facts), group-by-having, and top-k — the
  * shapes that dominate 100 TB plans.
  *
  * Broadcast policy (r16): an explicit broadcast() hint overrides
  * Spark's size check, so it is reserved for frames whose size is
  * BOUNDED BY CONSTRUCTION whatever the scale factor — nation/region
  * (fixed 25/5-row dims) and one-row scalar aggregates. customer,
  * part, supplier and frames derived from them grow linearly with SF
  * (TPC-H scales them with the facts): those joins carry NO hint —
  * Spark's autoBroadcastJoinThreshold broadcasts them at bench SF from
  * the parquet size estimate, and at a 100×/1000× SF where a 15M-row
  * customer no longer fits an executor, the same plan degrades to a
  * shuffle join instead of an OOM; AQE's runtime re-opt recovers the
  * broadcast when a FILTERED dim (q8/q9's part slice) turns out small.
  * ScalingLawsSpec audits the executed plans of the q-family for a
  * CartesianProduct. */
object RelationalQueries {

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  def entries: Seq[GateEntry] = Seq(
    // Q3-shape: segment join + top-k by exact revenue
    GateEntry("q3_shipping_priority", { (s, dir) =>
      import s.implicits._
      val c = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
      val o = Tables.orders(s, dir).filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir).filter($"l_shipdate" > lit("1996-06-30").cast("timestamp"))
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey")
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    },
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1996-06-30'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin, headline = true),
    // Q5-shape: 5-way join, revenue per nation in one region
    GateEntry("q5_local_supplier", { (s, dir) =>
      import s.implicits._
      val r = Tables.region(s, dir).filter($"r_name" === "ASIA")
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(sup, $"l_suppkey" === $"s_suppkey")
        .join(c, $"o_custkey" === $"c_custkey" &&
          $"s_nationkey" === $"c_nationkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .groupBy($"n_name")
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"n_name")
    },
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin, headline = true),
    // OLAP ROLLUP: per-(flag, status) revenue plus the per-flag and
    // grand-total super-aggregate rows in ONE pass — Spark's rollup
    // plans a single Expand + hash aggregate (no per-level re-scans);
    // gid is the standard grouping bitmask (engine-identical to
    // DuckDB's GROUPING(a, b))
    GateEntry("q23_rollup_revenue", { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(grouping_id().as("gid"),
          dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
        .select($"l_returnflag", $"l_linestatus", $"gid", $"revenue", $"n_items")
        .orderBy($"gid", $"l_returnflag", $"l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),
    // OLAP CUBE: all four grouping combinations of (ship year, flag) in
    // one Expand pass — the yearly/flag marginals and the grand total
    // fall out of the same shuffle as the base cells
    GateEntry("q24_cube_year_flag", { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .withColumn("ship_year", year($"l_shipdate").cast("long"))
        .cube($"ship_year", $"l_returnflag")
        .agg(grouping_id().as("gid"),
          dsum($"l_quantity").as("sum_qty"),
          count(lit(1)).as("n_items"))
        .select($"ship_year", $"l_returnflag", $"gid", $"sum_qty", $"n_items")
        .orderBy($"gid", $"ship_year", $"l_returnflag")
    },
      """SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
        |  l_returnflag,
        |  GROUPING(CAST(EXTRACT(year FROM l_shipdate) AS BIGINT), l_returnflag) AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |GROUP BY CUBE (CAST(EXTRACT(year FROM l_shipdate) AS BIGINT), l_returnflag)
        |ORDER BY gid, ship_year, l_returnflag""".stripMargin),
    // OLAP GROUPING SETS: the two one-dimension marginals + the grand
    // total, WITHOUT the base (flag, status) cells — the custom-sets
    // case rollup/cube can't express; same single Expand + hash
    // aggregate execution. SQL surface (GROUP BY GROUPING SETS) over
    // the registered views — the DataFrame API has no grouping-sets
    // verb, and the SQL route exercises the same parser path a
    // migrating user would.
    GateEntry("q25_grouping_sets", { (s, dir) =>
      graft.model.DerivedState.register(s, dir)
      s.sql("""SELECT l_returnflag, l_linestatus,
        |  grouping_id(l_returnflag, l_linestatus) AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
    },
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),
    // PIVOT: quantity totals cross-tabbed returnflag × linestatus —
    // Spark's pivot with EXPLICIT pivot values (never the
    // values-discovery pre-query: that's an extra collect at scale);
    // one hash aggregate, columns fan out at plan time
    GateEntry("q26_pivot", { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum($"l_quantity"))
        .withColumnRenamed("F", "qty_F").withColumnRenamed("O", "qty_O")
        .orderBy($"l_returnflag")
    },
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS qty_F,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS qty_O
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    // the ranking-window suite over one partition spec: rank /
    // dense_rank / percent_rank / cume_dist / ntile share a single
    // sort within each nation partition — one exchange, one sort,
    // five windows (supplier count per nation is the partition bound)
    GateEntry("q27_window_suite", { (s, dir) =>
      import s.implicits._
      val sup = Tables.supplier(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"s_nationkey").orderBy($"s_acctbal", $"s_suppkey")
      // rank family cast to long: Spark's rank()/ntile() are INT while
      // every SQL engine returns BIGINT — the driver hashes typed values
      sup.select($"s_suppkey", $"s_nationkey",
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          percent_rank().over(w).as("prnk"),
          cume_dist().over(w).as("cdist"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy($"s_suppkey")
    },
      """SELECT s_suppkey, s_nationkey,
        |  RANK() OVER w AS rnk,
        |  DENSE_RANK() OVER w AS drnk,
        |  PERCENT_RANK() OVER w AS prnk,
        |  CUME_DIST() OVER w AS cdist,
        |  NTILE(4) OVER w AS quartile
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
        |ORDER BY s_suppkey""".stripMargin),
    // Q4-shape: EXISTS (left_semi) + priority rollup
    GateEntry("q4_order_priority", { (s, dir) =>
      import s.implicits._
      val o = Tables.orders(s, dir)
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
      val lateLines = Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_shipdate")
      o.join(lateLines, $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate", "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy($"o_orderpriority")
    },
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin, headline = true),
    // Q16-shape: distinct-count per group with an exclusion filter
    GateEntry("q16_supplier_variety", { (s, dir) =>
      import s.implicits._
      val p = Tables.part(s, dir).filter($"p_brand" =!= "Brand#1" && $"p_size".isin(1, 5, 9, 13))
      val l = Tables.lineitem(s, dir).select($"l_partkey", $"l_suppkey")
      p.join(l, $"p_partkey" === $"l_partkey")
        .groupBy($"p_brand", $"p_size")
        .agg(countDistinct($"l_suppkey").as("supplier_cnt"),
          count(lit(1)).as("n_lines"))
        .orderBy($"p_brand", $"p_size")
    },
      """SELECT p_brand, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt, COUNT(*) AS n_lines
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13)
        |GROUP BY p_brand, p_size ORDER BY p_brand, p_size""".stripMargin, headline = true),
    // Q7-shape: volume between two nations — double broadcast-dim join
    // through supplier and customer, grouped by year
    GateEntry("q7_nation_volume", { (s, dir) =>
      import s.implicits._
      val n1 = Tables.nation(s, dir).select($"n_nationkey".as("sk"), $"n_name".as("supp_nation"))
      val n2 = Tables.nation(s, dir).select($"n_nationkey".as("ck"), $"n_name".as("cust_nation"))
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(sup, $"l_suppkey" === $"s_suppkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .join(broadcast(n1), $"s_nationkey" === $"sk")
        .join(broadcast(n2), $"c_nationkey" === $"ck")
        .filter(($"supp_nation" === "NATION_3" && $"cust_nation" === "NATION_7") ||
          ($"supp_nation" === "NATION_7" && $"cust_nation" === "NATION_3"))
        .groupBy($"supp_nation", $"cust_nation",
          year($"l_shipdate").cast("long").as("l_year"))
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("volume"))
        .orderBy($"supp_nation", $"cust_nation", $"l_year")
    },
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
        |   OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    // Q10-shape: returned-item revenue per customer, top 20
    GateEntry("q10_returned_items", { (s, dir) =>
      import s.implicits._
      val l = Tables.lineitem(s, dir).filter($"l_returnflag" === "R")
      val o = Tables.orders(s, dir)
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1996-07-01").cast("timestamp"))
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .groupBy($"c_custkey", $"c_name", $"n_name")
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"revenue".desc, $"c_custkey")
        .limit(20)
    },
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    // Q14-shape: conditional-ratio aggregate (promo revenue share)
    GateEntry("q14_promo_revenue", { (s, dir) =>
      import s.implicits._
      val l = Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1996-03-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      val p = Tables.part(s, dir)
      l.join(p, $"l_partkey" === $"p_partkey")
        .agg(
          (lit(100.0) *
            dsum(when($"p_type".startsWith("PROMO"),
              $"l_extendedprice" * (lit(1.0) - $"l_discount")).otherwise(0.0)) /
            dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")))
            .as("promo_share"),
          count(lit(1)).as("n_items"))
    },
      """SELECT
        |  100.0 * CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
        |        THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
        |      AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |    AS promo_share,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin),
    // Q19-shape: OR-of-conjuncts quals over a broadcast dim join — the
    // disjunctive-pushdown shape
    GateEntry("q19_discounted_revenue", { (s, dir) =>
      import s.implicits._
      val l = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      l.join(p, $"l_partkey" === $"p_partkey")
        .filter(
          ($"p_brand" === "Brand#1" && $"p_size" <= 5 &&
            $"l_quantity" >= 1 && $"l_quantity" <= 11) ||
          ($"p_brand" === "Brand#2" && $"p_size" <= 10 &&
            $"l_quantity" >= 10 && $"l_quantity" <= 20) ||
          ($"p_brand" === "Brand#3" && $"p_size" <= 15 &&
            $"l_quantity" >= 20 && $"l_quantity" <= 30))
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
    },
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size <= 5 AND l_quantity >= 1 AND l_quantity <= 11)
        |   OR (p_brand = 'Brand#2' AND p_size <= 10 AND l_quantity >= 10 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#3' AND p_size <= 15 AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin),
    // Q18-shape: group-by-having over the fact, then enrich
    GateEntry("q18_large_orders", { (s, dir) =>
      import s.implicits._
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val big = l.groupBy($"l_orderkey")
        .agg(dsum($"l_quantity").as("total_qty"))
        .filter($"total_qty" > 150.0)
      big.join(o, $"l_orderkey" === $"o_orderkey")
        .select($"l_orderkey", $"o_orderpriority", $"total_qty")
        .orderBy($"l_orderkey")
    },
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 150.0)
        |SELECT l_orderkey, o_orderpriority, total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey""".stripMargin, headline = true),
    // Q8-shape: market share — one nation's slice of a region's revenue
    // per year (conditional-sum ÷ total over the same joined frame)
    GateEntry("q8_market_share", { (s, dir) =>
      import s.implicits._
      val r = Tables.region(s, dir).filter($"r_name" === "ASIA")
      val cn = Tables.nation(s, dir).select($"n_nationkey".as("ck"), $"n_regionkey")
      val sn = Tables.nation(s, dir).select($"n_nationkey".as("sk"), $"n_name".as("supp_nation"))
      val p = Tables.part(s, dir).filter($"p_type" === "STANDARD")
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      l.join(p, $"l_partkey" === $"p_partkey")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .join(broadcast(cn), $"c_nationkey" === $"ck")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .join(sup, $"l_suppkey" === $"s_suppkey")
        .join(broadcast(sn), $"s_nationkey" === $"sk")
        .groupBy(year($"o_orderdate").cast("long").as("o_year"))
        .agg(
          (dsum(when($"supp_nation" === "NATION_3",
            $"l_extendedprice" * (lit(1.0) - $"l_discount")).otherwise(0.0)) /
            dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("mkt_share"),
          count(lit(1)).as("n_items"))
        .orderBy($"o_year")
    },
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(CASE WHEN sn.n_name = 'NATION_3'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
        |    AS DECIMAL(18,4))) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |    AS mkt_share,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Q9-shape: profit by supplier nation × year for one part family
    // (no partsupp table in the testdata → profit = discounted revenue)
    GateEntry("q9_product_profit", { (s, dir) =>
      import s.implicits._
      val p = Tables.part(s, dir).filter($"p_type" === "PROMO")
      val sn = Tables.nation(s, dir).select($"n_nationkey".as("sk"), $"n_name".as("nation"))
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val sup = Tables.supplier(s, dir)
      l.join(p, $"l_partkey" === $"p_partkey")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .join(sup, $"l_suppkey" === $"s_suppkey")
        .join(broadcast(sn), $"s_nationkey" === $"sk")
        .groupBy($"nation", year($"o_orderdate").cast("long").as("o_year"))
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_profit"),
          count(lit(1)).as("n_items"))
        .orderBy($"nation", $"o_year".desc)
    },
      """SELECT sn.n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_profit,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE p_type = 'PROMO'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),
    // Q12-shape: late-shipment counts split by order priority class per
    // line status (the testdata has no shipmode/receiptdate — "late" =
    // shipped > 30 days after the order date)
    GateEntry("q12_late_lines", { (s, dir) =>
      import s.implicits._
      val l = Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
      val o = Tables.orders(s, dir)
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .filter($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 30 DAYS"))
        .groupBy($"l_linestatus")
        .agg(
          count(when($"o_orderpriority" === "1-URGENT" ||
            $"o_orderpriority" === "2-HIGH", 1)).as("high_line_count"),
          count(when($"o_orderpriority" =!= "1-URGENT" &&
            $"o_orderpriority" =!= "2-HIGH", 1)).as("low_line_count"))
        .orderBy($"l_linestatus")
    },
      """SELECT l_linestatus,
        |  COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |        THEN 1 END) AS high_line_count,
        |  COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |        THEN 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
    // Q13-shape: customer order-count histogram — LEFT OUTER join with the
    // filter INSIDE the join, then a double aggregation
    GateEntry("q13_order_distribution", { (s, dir) =>
      import s.implicits._
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter($"o_orderpriority" =!= "5-LOW")
      c.join(o, $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
    },
      """WITH percust AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority <> '5-LOW') o
        |    ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM percust GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    // Q15-shape: top supplier(s) — per-supplier revenue joined against the
    // GLOBAL max of the same derivation (self-join on an aggregate)
    GateEntry("q15_top_supplier", { (s, dir) =>
      import s.implicits._
      val rev = Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
        .groupBy($"l_suppkey")
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("total_revenue"))
      val top = rev.agg(max($"total_revenue").as("__max"))
      rev.join(broadcast(top), $"total_revenue" === $"__max").drop("__max")
        .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
        .select($"s_suppkey", $"s_name", $"total_revenue")
        .orderBy($"s_suppkey")
    },
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),
    // Q17-shape: small-quantity revenue — per-part average joined back to
    // the fact (the classic correlated-subquery-to-join rewrite)
    GateEntry("q17_small_quantity", { (s, dir) =>
      import s.implicits._
      val p = Tables.part(s, dir).filter($"p_brand" === "Brand#3")
      val l = Tables.lineitem(s, dir)
      val lp = l.join(p, $"l_partkey" === $"p_partkey")
      val avgQty = lp.groupBy($"l_partkey".as("__pk"))
        .agg((dsum($"l_quantity") / count(lit(1))).as("__avgQty"))
      lp.join(avgQty, $"l_partkey" === $"__pk")
        .filter($"l_quantity" < lit(0.2) * $"__avgQty")
        .agg((dsum($"l_extendedprice") / lit(7.0)).as("avg_yearly"),
          count(lit(1)).as("n_items"))
    },
      """WITH lp AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#3'),
        |avgq AS (
        |  SELECT l_partkey AS pk,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avgQty
        |  FROM lp GROUP BY l_partkey)
        |SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n_items
        |FROM lp JOIN avgq ON l_partkey = pk
        |WHERE l_quantity < 0.2 * avgQty""".stripMargin),
    // Q21-shape: suppliers who kept multi-supplier orders waiting. The
    // textbook EXISTS/NOT-EXISTS pair is rewritten as aggregates (the
    // r17 fix — the semi/anti form scanned lineitem 3× and computed the
    // `late` pipeline twice, the duplicated-fact-scan hazard the sf10
    // audit was chasing):
    //  - EXISTS other supplier in the order ⇔ the order has ≥2 distinct
    //    suppliers among ALL its lines (l1's own supplier is one of
    //    them), computed on the RAW fact — no orders join needed, since
    //    only late orderkeys survive the final join and order status is
    //    an order-level property;
    //  - NOT EXISTS other LATE supplier ⇔ the order has exactly 1
    //    distinct late supplier (l1's supplier IS late), computed from
    //    one (orderkey, suppkey) aggregate of `late` whose window also
    //    carries each supplier's late-row count — `late` is built ONCE.
    // Exchanges: one fact aggregate (exchange-free on the orderkey-
    // bucketed layout), one late shuffle, two small keyed joins — no
    // inequality semi/anti probes.
    GateEntry("q21_waiting_suppliers", { (s, dir) =>
      import s.implicits._
      val o = Tables.orders(s, dir).filter($"o_orderstatus" === "F")
        .select($"o_orderkey", $"o_orderdate")
      val late = Tables.lineitem(s, dir)
        .join(o, $"l_orderkey" === $"o_orderkey")
        .filter($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"))
        .select($"l_orderkey", $"l_suppkey")
      // one pass over late: per-(order, supplier) late-row counts, then
      // the distinct-late-supplier count rides a window over the same
      // aggregated (already orderkey-clustered) frame
      val lateAgg = late.groupBy($"l_orderkey", $"l_suppkey")
        .agg(count(lit(1)).as("__cnt"))
        .withColumn("__nLate", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"l_orderkey")))
      val nSupp = Tables.lineitem(s, dir)
        .groupBy($"l_orderkey".as("n_orderkey"))
        .agg(countDistinct($"l_suppkey").as("__nSupp"))
      lateAgg.filter($"__nLate" === 1)
        .join(nSupp.filter($"__nSupp" >= 2),
          $"l_orderkey" === $"n_orderkey", "left_semi")
        .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
        .groupBy($"s_name")
        .agg(sum($"__cnt").as("numwait"))
        .orderBy($"numwait".desc, $"s_name")
        .limit(20)
    },
      """WITH fo AS (
        |  SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
        |late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN fo ON l_orderkey = o_orderkey
        |  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY),
        |allf AS (
        |  SELECT l_orderkey, l_suppkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM fo))
        |SELECT s_name, COUNT(*) AS numwait
        |FROM late l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM allf a
        |              WHERE a.l_orderkey = l1.l_orderkey
        |                AND a.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l2
        |                  WHERE l2.l_orderkey = l1.l_orderkey
        |                    AND l2.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin),
    // Q22-shape: positive-balance customers above the average with no
    // RECENT orders (every synthetic customer has some order — the
    // recency window keeps the anti-join non-trivial) — scalar-aggregate
    // threshold + anti-join
    GateEntry("q22_sales_opportunity", { (s, dir) =>
      import s.implicits._
      val codes = Seq(1L, 3L, 5L, 7L, 9L)
      val c = Tables.customer(s, dir).filter($"c_nationkey".isin(codes: _*))
      val avgBal = c.filter($"c_acctbal" > 0.0)
        .agg((dsum($"c_acctbal") / count(lit(1))).as("__avg"))
      val rich = c.join(broadcast(avgBal), $"c_acctbal" > $"__avg").drop("__avg")
      rich.join(Tables.orders(s, dir)
            .filter($"o_orderdate" >= lit("2001-01-01").cast("timestamp"))
            .select($"o_custkey"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_nationkey".as("cntrycode"))
        .agg(count(lit(1)).as("numcust"), dsum($"c_acctbal").as("totacctbal"))
        .orderBy($"cntrycode")
    },
      """WITH cc AS (
        |  SELECT * FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9)),
        |avgbal AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS a
        |  FROM cc WHERE c_acctbal > 0.0)
        |SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        |FROM cc
        |WHERE c_acctbal > (SELECT a FROM avgbal)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY c_nationkey ORDER BY cntrycode""".stripMargin),
    // Q2-shape: min-cost supplier per part in one region — the classic
    // correlated-MIN subquery. (No partsupp table in the synthetic
    // schema: the part-supplier cost relation is derived as
    // MIN(l_extendedprice) per (part, supplier) — MIN of raw doubles,
    // so the min equality is exact in both engines.)
    //
    // r18 rewrite (the q21 precedent): the pre-r18 form aggregated the
    // per-part min then JOINED IT BACK — two derivations of `ec` + a
    // self-join (9 shuffles / 34.5 s at 100×, the slowest audited
    // line). Two changes, both answer-preserving: (1) the part
    // predicate pushes down to a lineitem semi-join BEFORE the cost
    // aggregate — the correlated min is per-partkey, so restricting to
    // qualifying partkeys keeps every surviving group byte-identical
    // while the fact scan drops ~96% of its rows at the source;
    // (2) the min-per-part + join-back becomes ONE window min over ec
    // (ties preserved exactly like the join-back: every supplier AT
    // the min survives — min_by would break tie semantics). ec is
    // derived once, exchanged once on l_partkey.
    GateEntry("q2_min_cost_supplier", { (s, dir) =>
      import s.implicits._
      val p = Tables.part(s, dir)
        .filter($"p_size" <= 10 && $"p_type" === "STANDARD")
        .select($"p_partkey")
      // no broadcast hint: part grows with SF (header policy); Spark's
      // threshold/AQE broadcasts the filtered slice at bench SF
      val cost = Tables.lineitem(s, dir)
        .join(p, $"l_partkey" === $"p_partkey", "left_semi")
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(min($"l_extendedprice").as("supplycost"))
      val eu = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir).filter($"r_name" === "EUROPE")),
          $"n_regionkey" === $"r_regionkey")
        .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
      val ec = cost.join(eu, $"l_suppkey" === $"s_suppkey")
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"l_partkey")
      ec.withColumn("__min", min($"supplycost").over(w))
        .filter($"supplycost" === $"__min")
        .select($"s_acctbal", $"s_name", $"n_name",
          $"l_partkey".as("p_partkey"), $"s_suppkey", $"supplycost")
        .orderBy($"s_acctbal".desc, $"n_name", $"s_name", $"p_partkey")
        .limit(100)
    },
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supplycost
        |  FROM lineitem GROUP BY 1, 2),
        |eu AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        |ec AS (
        |  SELECT c.l_partkey, c.supplycost, e.s_suppkey, e.s_name,
        |         e.s_acctbal, e.n_name
        |  FROM cost c JOIN eu e ON c.l_suppkey = e.s_suppkey)
        |SELECT ec.s_acctbal, ec.s_name, ec.n_name, p.p_partkey,
        |       ec.s_suppkey, ec.supplycost
        |FROM part p JOIN ec ON p.p_partkey = ec.l_partkey
        |WHERE p.p_size <= 10 AND p.p_type = 'STANDARD'
        |  AND ec.supplycost = (SELECT MIN(supplycost) FROM ec e2
        |                       WHERE e2.l_partkey = p.p_partkey)
        |ORDER BY ec.s_acctbal DESC, ec.n_name, ec.s_name, p.p_partkey
        |LIMIT 100""".stripMargin),
    // Q11-shape: important stock — per-part value within one nation
    // group's suppliers, kept above a scalar-aggregate threshold (the
    // HAVING-scalar-subquery shape): 1.2× the average per-part value,
    // derived from the same exact decimal total and exact part count on
    // both sides, then two IEEE ops — no accumulation-order drift.
    GateEntry("q11_important_stock", { (s, dir) =>
      import s.implicits._
      val scopedSupp = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
            .filter($"n_name".isin("NATION_3", "NATION_8"))),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey")
      val scoped = Tables.lineitem(s, dir)
        .join(scopedSupp, $"l_suppkey" === $"s_suppkey", "left_semi")
      val v = scoped.groupBy($"l_partkey")
        .agg(dsum($"l_extendedprice" * $"l_quantity").as("value"))
      // scale-free threshold: 1.2× the average per-part value. A fixed
      // fraction of the TOTAL degenerates as the part count grows (real
      // TPC-H scales its fraction by 1/SF for the same reason); dividing
      // by the part count makes the filter bite (~65% dropped) at every
      // SF. Exact-decimal total / exact count, then two IEEE ops — the
      // threshold is bit-identical in both engines.
      val thresh = scoped.agg(
        (dsum($"l_extendedprice" * $"l_quantity") / countDistinct($"l_partkey")
          * lit(1.2)).as("__t"))
      v.join(broadcast(thresh), $"value" > $"__t").drop("__t")
        .orderBy($"value".desc, $"l_partkey")
    },
      """WITH scoped AS (
        |  SELECT l_partkey, l_extendedprice, l_quantity
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name IN ('NATION_3', 'NATION_8'))),
        |v AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS value
        |  FROM scoped GROUP BY l_partkey)
        |SELECT l_partkey, value FROM v
        |WHERE value > (
        |  SELECT CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |         / COUNT(DISTINCT l_partkey) * CAST(1.2 AS DOUBLE)
        |  FROM scoped)
        |ORDER BY value DESC, l_partkey""".stripMargin),
    // Q20-shape: potential part promotion — a semi-join chain: parts by
    // name pattern → per-(supplier, part) availability proxy vs the
    // quantity shipped in the target year → suppliers of one region that
    // hold such surplus stock. All quantities are exact decimal sums, so
    // the surplus comparison is bit-identical in both engines.
    GateEntry("q20_part_promotion", { (s, dir) =>
      import s.implicits._
      val pk = Tables.part(s, dir).filter($"p_name".like("%bolt%"))
        .select($"p_partkey")
      val a = Tables.lineitem(s, dir)
        .join(pk, $"l_partkey" === $"p_partkey", "left_semi")
        .groupBy($"l_suppkey", $"l_partkey")
        .agg(dsum($"l_quantity").as("avail"),
          dsum(when($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
              $"l_shipdate" < lit("1997-01-01").cast("timestamp"), $"l_quantity")
            .otherwise(0.0)).as("shipped"))
      val qualified = a.filter($"avail" > lit(2.0) * $"shipped")
        .select($"l_suppkey").distinct()
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir).filter($"n_regionkey" === 2)),
          $"s_nationkey" === $"n_nationkey")
        .join(qualified, $"s_suppkey" === $"l_suppkey", "left_semi")
        .select($"s_suppkey", $"s_name", $"n_name")
        .orderBy($"s_suppkey")
    },
      """WITH pk AS (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%'),
        |a AS (
        |  SELECT l_suppkey, l_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS avail,
        |    CAST(SUM(CAST(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
        |          AND l_shipdate < TIMESTAMP '1997-01-01'
        |          THEN l_quantity ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) AS shipped
        |  FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM pk)
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_regionkey = 2
        |  AND s_suppkey IN (SELECT l_suppkey FROM a
        |                    WHERE avail > CAST(2.0 AS DOUBLE) * shipped)
        |ORDER BY s_suppkey""".stripMargin),
  )
}
