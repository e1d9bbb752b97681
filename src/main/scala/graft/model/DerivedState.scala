package graft.model

import java.io.FileNotFoundException
import java.lang.ref.WeakReference

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, TemporaryViewRelation}
import org.apache.spark.sql.functions.{col, lit, unix_micros}

import graft.core.Tables

/** Deterministic derivation of the four ADFS state tables (SURVEY §1.2)
  * from the driver's TPC-H-ish testdata, written in a SQL dialect subset
  * that parses IDENTICALLY in Spark SQL and DuckDB. The same strings are
  * (a) executed by Spark as temp views and (b) prepended as a WITH prefix
  * to every oracle query — so the two engines can never drift.
  *
  * Mapping (namespace tree): root(0) → nation dirs → customer dirs →
  * order files; blocks from lineitem (1-3 replicas via a small cross
  * join); 40 datanodes from range(); 100 lease holders from range().
  * Includes the reference's edge shapes: tombstoned files (version<0,
  * orders with o_orderkey%97=0), under-construction replicas (length=-1),
  * stale replicas (divergent generationStamp), dead/decommissioned nodes,
  * soft/hard-expired leases. "Now" is pinned to NOW_MS for determinism.
  */
object DerivedState {

  val NowMs = 1700000000000L

  /** file: id, parentId, name, length(-1=dir), blockSize, replication,
    * atime, mtime, owner, leaseHolder, leaseRecoveryTime, version. */
  val fileSql: String =
    """SELECT CAST(0 AS BIGINT) AS id, CAST(-1 AS BIGINT) AS parentId, '' AS name,
      |       CAST(-1 AS BIGINT) AS length, CAST(0 AS BIGINT) AS blockSize,
      |       CAST(0 AS BIGINT) AS replication, CAST(1700000000000 AS BIGINT) AS atime,
      |       CAST(1700000000000 AS BIGINT) AS mtime, CAST(0 AS BIGINT) AS owner,
      |       CAST(NULL AS STRING) AS leaseHolder, CAST(0 AS BIGINT) AS leaseRecoveryTime,
      |       CAST(1 AS BIGINT) AS version
      |UNION ALL
      |SELECT CAST(1 + n_nationkey AS BIGINT), CAST(0 AS BIGINT),
      |       'n_' || CAST(n_nationkey AS STRING),
      |       CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |       CAST(1700000000000 AS BIGINT), CAST(1700000000000 AS BIGINT),
      |       CAST(n_regionkey AS BIGINT), CAST(NULL AS STRING), CAST(0 AS BIGINT),
      |       CAST(1 + n_nationkey AS BIGINT)
      |FROM nation
      |UNION ALL
      |SELECT CAST(100 + c_custkey AS BIGINT), CAST(1 + c_nationkey AS BIGINT),
      |       'c_' || CAST(c_custkey AS STRING),
      |       CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |       CAST(1700000000000 AS BIGINT), CAST(1700000000000 AS BIGINT),
      |       CAST(c_nationkey AS BIGINT), CAST(NULL AS STRING), CAST(0 AS BIGINT),
      |       CAST(100 + c_custkey AS BIGINT)
      |FROM customer
      |UNION ALL
      |SELECT CAST(1000000 + o_orderkey AS BIGINT), CAST(100 + o_custkey AS BIGINT),
      |       'o_' || CAST(o_orderkey AS STRING),
      |       CASE WHEN o_orderkey % 10 = 0 THEN CAST(0 AS BIGINT)
      |            ELSE CAST(FLOOR(o_totalprice) AS BIGINT) END,
      |       CAST(1024 AS BIGINT),
      |       CAST(1 + o_orderkey % 3 AS BIGINT),
      |       CAST(1700000000000 + o_orderkey AS BIGINT),
      |       CAST(1690000000000 + o_orderkey AS BIGINT),
      |       CAST(o_custkey % 100 AS BIGINT),
      |       CASE WHEN o_orderkey % 50 = 0 THEN 'h_' || CAST(o_custkey % 100 AS STRING)
      |            ELSE CAST(NULL AS STRING) END,
      |       CAST(0 AS BIGINT),
      |       CASE WHEN o_orderkey % 97 = 0 THEN CAST(0 - (1000000 + o_orderkey) AS BIGINT)
      |            ELSE CAST(1000000 + o_orderkey AS BIGINT) END
      |FROM orders""".stripMargin

  /** block: id, datanodeId, length(-1=under construction), generationStamp,
    * fileId, fileIndex, version. One row per replica; replication factor
    * 1+l_suppkey%3; replica 2 of every 11th part has a stale genstamp. */
  val blockSql: String =
    """SELECT CAST(1000000 + l_orderkey * 32 + li AS BIGINT) AS id,
      |       CAST(1 + (l_suppkey + r * 7 + li) % 40 AS BIGINT) AS datanodeId,
      |       CASE WHEN l_orderkey % 50 = 0 AND li = 1 THEN CAST(-1 AS BIGINT)
      |            ELSE CAST(FLOOR(l_quantity) * 1000 AS BIGINT) END AS length,
      |       CAST(100 + l_partkey % 5
      |            - CASE WHEN r = 2 AND l_partkey % 11 = 0 THEN 1 ELSE 0 END AS BIGINT)
      |         AS generationStamp,
      |       CAST(1000000 + l_orderkey AS BIGINT) AS fileId,
      |       CAST(li AS BIGINT) AS fileIndex,
      |       CAST((1000000 + l_orderkey * 32 + li) * 4 + r AS BIGINT) AS version
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |        ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice,
      |                 l_quantity, l_discount) AS li
      |      FROM lineitem) L
      |CROSS JOIN (SELECT 0 AS r UNION ALL SELECT 1 UNION ALL SELECT 2) reps
      |WHERE r < 1 + l_suppkey % 3""".stripMargin

  /** datanode: 40 nodes, 5 racks; i%13=0 stale (dead), i%17=0
    * decommissioned, i%19=0 decommissioning. */
  val datanodeSql: String =
    """SELECT CAST(i AS BIGINT) AS id,
      |       'dn' || CAST(i AS STRING) || ':50010' AS name,
      |       'DS-' || CAST(i AS STRING) AS storageId,
      |       CAST(50020 AS BIGINT) AS ipcPort, CAST(50075 AS BIGINT) AS infoPort,
      |       CAST(1000000000000 + i * 1000000000 AS BIGINT) AS capacity,
      |       CAST(i * 100000000 AS BIGINT) AS dfsUsed,
      |       CAST(1000000000000 + i * 1000000000 - i * 100000000 - i * 10000000 AS BIGINT) AS remaining,
      |       CAST(1700000000000 - CASE WHEN i % 13 = 0 THEN 7200000 ELSE i * 1000 END AS BIGINT) AS lastUpdated,
      |       CAST(i % 7 AS BIGINT) AS xceiverCount,
      |       '/rack' || CAST(i % 5 AS STRING) AS location,
      |       CASE WHEN i % 17 = 0 THEN 'DECOMMISSIONED'
      |            WHEN i % 19 = 0 THEN 'DECOMMISSION_INPROGRESS'
      |            ELSE 'NORMAL' END AS adminState,
      |       CAST(i AS BIGINT) AS version
      |FROM range(1, 41) AS t(i)""".stripMargin

  /** lease: holder h_i renewed i minutes before NOW_MS → i>=1 soft-expired,
    * i>=60 hard-expired (FSConstants 60 s / 3600 s limits). */
  val leaseSql: String =
    """SELECT 'h_' || CAST(i AS STRING) AS holder,
      |       CAST(1700000000000 - i * 60000 AS BIGINT) AS leaseTime,
      |       CAST(1 + i AS BIGINT) AS version
      |FROM range(0, 100) AS t(i)""".stripMargin

  /** ops: a versioned changefeed derived from events for the R9/D1-D4
    * idempotent-replay semantics — DELETE ops carry negative versions. */
  val opsSql: String =
    """SELECT CAST(user_id AS BIGINT) AS opKey,
      |       CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'UPSERT' END AS op,
      |       CASE WHEN event_type = 'error' THEN CAST(0 - (event_id + 1) AS BIGINT)
      |            ELSE CAST(event_id + 1 AS BIGINT) END AS opVersion,
      |       CAST(FLOOR(value * 100) AS BIGINT) AS payload
      |FROM events""".stripMargin

  /** reported: a synthetic block report for datanodes 1-8 with the N5
    * perturbation matrix — dropped replicas (version%13, → toRemove),
    * stale genstamps (version%7, → toInvalidate), grown lengths
    * (version%5, → toAdd), SHORTENED lengths (version%11, → corrupt
    * toInvalidate via the primary-length rule), plus never-stored rows
    * re-keyed to the NULL_DATANODE id 0 (→ toAdd, or toInvalidate when
    * the re-keyed report is shortened — the corrupt rule fires even with
    * no stored replica on the reporting node). */
  val reportedSql: String = reportedSqlFrom("block")

  /** [[reportedSql]] parameterized over its source relation — same text,
    * different FROM. Consumers that PIN the block derivation once per
    * evaluation (localCheckpoint + temp view) re-point the report
    * synthesis at the pin with this instead of re-deriving `block` per
    * reference; `reportedSqlFrom("block")` is byte-identical to the
    * registered view / oracle-prefix text, so the two can never drift. */
  def reportedSqlFrom(src: String): String =
    s"""SELECT CASE WHEN datanodeId = 10 THEN CAST(0 AS BIGINT) ELSE datanodeId END AS datanodeId,
      |       id AS blockId,
      |       CASE WHEN datanodeId = 10 THEN
      |              CASE WHEN version % 3 = 0 AND length > 0 THEN length - 700
      |                   ELSE length END
      |            WHEN version % 5 = 0 THEN length + 1000
      |            WHEN version % 11 = 0 AND length > 0 THEN length - 500
      |            ELSE length END AS repLength,
      |       CASE WHEN datanodeId = 10 THEN generationStamp
      |            WHEN version % 7 = 0 THEN generationStamp - 1
      |            ELSE generationStamp END AS repGenStamp
      |FROM $src
      |WHERE version > 0 AND ((datanodeId <= 8 AND version % 13 <> 0) OR datanodeId = 10)""".stripMargin

  val derived: Seq[(String, String)] = Seq(
    "file" -> fileSql, "block" -> blockSql, "datanode" -> datanodeSql,
    "lease" -> leaseSql, "ops" -> opsSql, "reported" -> reportedSql)

  /** DuckDB oracle prefix: WITH <derived tables> — prepend to oracle SQL. */
  val oraclePrefix: String =
    derived.map { case (n, q) => s"$n AS (\n$q\n)" }
      .mkString("WITH ", ",\n", "\n")

  /** Prepend the derived-table CTEs; a query that itself starts with WITH
    * gets its CTE list merged into the prefix (RECURSIVE, which SQL only
    * allows once at the head of the whole WITH clause, is hoisted). */
  def oracle(sql: String): String = {
    val t = sql.trim
    if (t.regionMatches(true, 0, "WITH RECURSIVE ", 0, 15))
      "WITH RECURSIVE " + oraclePrefix.stripSuffix("\n").stripPrefix("WITH ") +
        ",\n" + t.substring(15)
    else if (t.regionMatches(true, 0, "WITH ", 0, 5))
      oraclePrefix.stripSuffix("\n") + ",\n" + t.substring(5)
    else oraclePrefix + sql
  }

  /** Mark every top-level CTE whose name starts a line AS MATERIALIZED —
    * a DuckDB-side optimization fence only (row-identical by
    * definition; re-verified per adopting entry in the r15 gate).
    * DuckDB 1.0 INLINES CTEs per reference, so an oracle whose chain
    * re-reads a mid-chain CTE k times re-evaluates everything beneath
    * it k times — measured 66 s → 0.9 s on n_trash and 29 s → 0.7 s on
    * sim10 at sf0.1. Applied per entry (after the [[oracle]] prefix
    * merge where one is used), NOT globally: a few oracles are faster
    * inlined (filter pushdown into the CTE — n11_fsck_move keeps its
    * hand-placed marks for exactly that reason). */
  def materializeCtes(sql: String): String =
    sql.replaceAll("(?m)^([a-zA-Z_][a-zA-Z0-9_]*) AS \\(",
      "$1 AS MATERIALIZED (")

  /** events.ts as BIGINT epoch-nanos: the declared TIMESTAMP_NTZ column
    * converted in the UTC session — the DuckDB oracle side's
    * epoch_ns(ts) yields the same nanos. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))

  /** The tables the bucketed layout shadows with `graft_state_<t>`. */
  private val shadowed =
    Seq("file", "block", "datanode", "events", "lineitem", "orders")

  /** Everything a registration reads besides the SQL text: the dir, the
    * layout confs, each testdata path's (mtime, length) — None when
    * missing — and, under the bucketed layout, each shadow table's
    * catalog entry. */
  private final case class Inputs(
      sfDir: String, layout: Option[String], layoutDir: Option[String],
      files: Seq[Option[(Long, Long)]], shadows: Seq[Option[CatalogTable]])

  private object Inputs {
    def apply(spark: SparkSession, sfDir: String, bucketed: Boolean): Inputs = {
      val hadoopConf = spark.sparkContext.hadoopConfiguration
      val files = TestdataSchema.names.map { t =>
        val p = new Path(s"$sfDir/$t.parquet")
        try {
          val st = p.getFileSystem(hadoopConf).getFileStatus(p)
          Some((st.getModificationTime, st.getLen))
        } catch { case _: FileNotFoundException => None }
      }
      val catalog = spark.sessionState.catalog
      val shadows =
        if (!bucketed) Nil
        else shadowed.map { t =>
          val id = TableIdentifier(s"graft_state_$t")
          Option.when(catalog.tableExists(id))(catalog.getTableMetadata(id))
        }
      Inputs(sfDir, spark.conf.getOption("graft.layout"),
        spark.conf.getOption(Tables.LayoutDirKey), files, shadows)
    }
  }

  /** What [[register]] last installed in a session: its inputs and the
    * view objects it left in the catalog. The views are held weakly, so
    * the record keeps no plan, and through a plan no session, alive. */
  private final case class Registration(
      inputs: Inputs, views: Seq[(String, WeakReference[TemporaryViewRelation])]) {
    def holds(spark: SparkSession, now: Inputs): Boolean =
      !spark.sparkContext.isStopped && inputs == now && views.forall {
        case (n, v) => spark.sessionState.catalog.getRawTempView(n).exists(_ eq v.get)
      }
  }

  private val registrations = new java.util.WeakHashMap[SparkSession, Registration]

  /** Register base parquet views + derived temp views in the session.
    * events.ts is ALWAYS BIGINT nanos here (normalizeEventTs).
    *
    * A call is a no-op when the session still holds, as the identical
    * objects, every view its last call installed, and none of that
    * call's inputs changed: `sfDir`, `graft.layout`,
    * [[Tables.LayoutDirKey]], the modification time and length of each
    * `<sfDir>/<t>.parquet`, and under the bucketed layout the catalog
    * entry (or absence) of each `graft_state_*` shadow table. Replacing
    * or dropping any of the views, switching the layout, rewriting a
    * shadow table or a testdata file, a new session or a stopped one all
    * make the next call register again. Sessions are held weakly. The
    * bucketed provenance check runs on every call. */
  def register(spark: SparkSession, sfDir: String): Unit =
    registrations.synchronized {
      val bucketed = spark.conf.getOption("graft.layout").contains("bucketed")
      if (bucketed) {
        // provenance guard (ADVICE r17): the shadow swaps SQL views for
        // catalog tables materialized from SOME sfDir — without this
        // check a same-session register() with a DIFFERENT sfDir would
        // silently serve the other dataset's rows on the SQL path (q25
        // etc.), the exact hazard Tables.load already fails loudly on
        // for the DataFrame path. Same contract: the activating main
        // records the written-from dir under Tables.LayoutDirKey.
        val written = spark.conf.getOption(Tables.LayoutDirKey)
        require(written.contains(sfDir),
          s"bucketed layout active but the graft_state_* shadow tables were " +
            s"written from ${written.getOrElse("<unrecorded>")}, not the " +
            s"requested $sfDir — set ${Tables.LayoutDirKey} when " +
            s"activating the layout, or register via views")
      }
      val inputs = Inputs(spark, sfDir, bucketed)
      if (!Option(registrations.get(spark)).exists(_.holds(spark, inputs))) {
        install(spark, sfDir, bucketed)
        val catalog = spark.sessionState.catalog
        val views = (TestdataSchema.names ++ derived.map(_._1)).map { n =>
          n -> new WeakReference(catalog.getRawTempView(n).orNull)
        }
        registrations.put(spark, Registration(inputs, views))
      }
    }

  private def install(spark: SparkSession, sfDir: String, bucketed: Boolean): Unit = {
    TestdataSchema.names.foreach { t =>
      val raw = Tables.readDeclared(spark, sfDir, t)
      val df = if (t == "events") normalizeEventTs(raw) else raw
      df.createOrReplaceTempView(t)
    }
    // NOT cached: leaving the derived tables as views keeps Catalyst free
    // to push each query's filters/projections into the parquet scans —
    // measured faster than caching even when a query reads a table 2-4×.
    derived.foreach { case (n, q) =>
      spark.sql(q).createOrReplaceTempView(n)
    }
    // layout mode (Bench's SPARK_GRAFT_BENCH_LAYOUT=bucketed): shadow
    // the three persisted-state views with the bucketed catalog tables
    // Scale.writeStateTables materialized from THEM — same rows, a
    // cluster layout instead of a per-query derivation. The reported/
    // lease/ops views stay derivation-bound: their plans were analyzed
    // against the original views above, so shadowing can't loop.
    // events joins its bucketed layout too (Scale.writeEventsTable —
    // the e-family keys on user_id); written from the NORMALIZED view,
    // so the shadow preserves the ts contract above. The ops view stays
    // derivation-bound like lease/reported.
    // lineitem/orders joined the shadow list in r16: the TPC-H facts'
    // bucketed layout (Scale.writeRelationalTables) must serve the SQL
    // view path (q25's GROUPING SETS) exactly like Tables.load serves
    // the DataFrame path.
    if (bucketed)
      shadowed.foreach { t =>
        val tbl = s"graft_state_$t"
        if (spark.catalog.tableExists(tbl))
          spark.table(tbl).createOrReplaceTempView(t)
      }
  }

  def file(spark: SparkSession, sfDir: String): DataFrame = { register(spark, sfDir); spark.table("file") }
  def block(spark: SparkSession, sfDir: String): DataFrame = { register(spark, sfDir); spark.table("block") }
  def datanode(spark: SparkSession, sfDir: String): DataFrame = { register(spark, sfDir); spark.table("datanode") }
  def lease(spark: SparkSession, sfDir: String): DataFrame = { register(spark, sfDir); spark.table("lease") }
  def ops(spark: SparkSession, sfDir: String): DataFrame = { register(spark, sfDir); spark.table("ops") }
}
