package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's physical table-store algebra (SURVEY §2.1) re-expressed
  * over DataFrames.
  *
  * An indexed `find` names an index and supplies leading-prefix key values
  * plus one comparator applied to every supplied key column — mirroring the
  * SQL the reference builds: `SELECT * FROM t WHERE c1 cmp ? AND c2 cmp ?
  * LIMIT offset,limit` (A/database/DatabaseExecutorForMysqlClient.java:83-121,
  * comparator enum A/database/DatabaseExecutor.java:44-56). `DEQ` is an
  * equality scan in descending index order
  * (A/database/tdhsocket/client/common/TDHSCommon.java:51-64).
  *
  * Everything compiles to Column predicates so Catalyst pushes the
  * comparison into the parquet scan (PushedFilters) — the analog of the
  * reference's "evaluate in the store, not the client".
  */
object Comparator extends Enumeration {
  val EQ, LT, LE, GT, GE, IN, DEQ = Value
}

/** TDHS post-filters — applied after the index scan
  * (TDHSCommon.java:66-79): the NOT, GT and isNull flags the p7 gate
  * entry composes. */
sealed trait Post { def toColumn: Column }
final case class PostNot(c: String, v: Any) extends Post { def toColumn: Column = col(c) =!= lit(v) }
final case class PostGt(c: String, v: Any) extends Post { def toColumn: Column = col(c) > lit(v) }
final case class PostIsNull(c: String) extends Post { def toColumn: Column = col(c).isNull }

final case class IndexDef(name: String, cols: Seq[String], unique: Boolean = false)

object StateStore {

  /** P1: indexed find with comparator, limit and offset. Keys may cover
    * only the leading columns of a composite index (prefix match,
    * A/file/FileRepository.java:73-78). */
  def find(df: DataFrame, index: IndexDef, keys: Seq[Any],
           cmp: Comparator.Value, limit: Int = Int.MaxValue,
           offset: Int = 0): DataFrame = {
    val filtered = df.filter(indexPredicate(index, keys, cmp))
    val ordered =
      if (cmp == Comparator.DEQ) filtered.orderBy(index.cols.map(c => col(c).desc): _*)
      else if (limit != Int.MaxValue || offset != 0) filtered.orderBy(index.cols.map(col): _*)
      else filtered
    val off = if (offset > 0) ordered.offset(offset) else ordered
    if (limit != Int.MaxValue) off.limit(limit) else off
  }

  /** The predicate a `find` compiles to: the selected comparator applied
    * to every supplied leading key column of the index. Shared by find and
    * updateLimited so both honor the comparator the same way (the
    * reference builds identical WHERE clauses for SELECT/UPDATE/DELETE —
    * DatabaseExecutorForMysqlClient.java:83-208). */
  def indexPredicate(index: IndexDef, keys: Seq[Any],
                     cmp: Comparator.Value): Column = {
    require(keys.nonEmpty && (cmp == Comparator.IN || keys.length <= index.cols.length),
      s"${keys.length} keys for ${index.cols.length}-col index ${index.name}")
    val prefix = index.cols.take(keys.length)
    cmp match {
      case Comparator.IN =>
        col(prefix.head).isin(keys: _*)
      case Comparator.EQ | Comparator.DEQ =>
        prefix.zip(keys).map { case (c, k) => col(c) === lit(k) }.reduce(_ && _)
      case c =>
        val op: (Column, Any) => Column = c match {
          case Comparator.LT => _ < _
          case Comparator.LE => _ <= _
          case Comparator.GT => _ > _
          case _             => _ >= _
        }
        prefix.zip(keys).map { case (cl, k) => op(col(cl), k) }.reduce(_ && _)
    }
  }

  /** P7: post-filters after an index scan (non-index columns). */
  def postFilter(df: DataFrame, posts: Seq[Post]): DataFrame =
    posts.foldLeft(df)((d, p) => d.filter(p.toColumn))

  /** P8: TDHS update SET expressions — assign / add / sub / now / null
    * (TDHSCommon.java:81-94) as a masked column merge under a predicate.
    * Rows not matching `where` keep their values: the batch analog of
    * `UPDATE t SET ... WHERE ...`. */
  sealed trait SetExpr
  final case class Assign(v: Any) extends SetExpr
  final case class Add(n: Long) extends SetExpr
  final case class Sub(n: Long) extends SetExpr
  case object SetNow extends SetExpr
  case object SetNull extends SetExpr

  /** P3's LIMIT clause: update only the first `limit` matching rows in
    * index order (the reference's `UPDATE t SET ... WHERE ... LIMIT n`,
    * DatabaseExecutorForMysqlClient.java:145-180). Rows beyond the limit
    * keep their values. `tieBreak` columns must make (index ++ tieBreak)
    * a total order — a NON-unique index with no tie-break would make the
    * boundary row set nondeterministic (and differ from any oracle). */
  def updateLimited(df: DataFrame, index: IndexDef, keys: Seq[Any],
                    cmp: Comparator.Value, sets: Map[String, SetExpr],
                    nowMs: Long, limit: Int,
                    tieBreak: Seq[String] = Nil): DataFrame = {
    val pred = indexPredicate(index, keys, cmp)
    val ordCols = index.cols ++ tieBreak
    // Boundary set: the first n MATCHING rows in (index, tieBreak) order.
    // filter → orderBy → limit plans as TakeOrderedAndProject (per-partition
    // top-n + driver merge of n·P rows) — no global single-partition sort
    // of the table, unlike a row_number() window. The set is ≤ n rows, so
    // broadcasting the join-back is always safe.
    val sel = df.filter(pred)
      .orderBy(ordCols.map(c => col(c).asc): _*)
      .limit(limit)
      .select(ordCols.zipWithIndex.map { case (c, i) => col(c).as(s"__k$i") } :+
        lit(true).as("__sel"): _*)
    // null-safe equality: tieBreak / trailing index columns may hold nulls
    // (the predicate itself is null-rejecting only on the supplied prefix)
    val cond = ordCols.zipWithIndex
      .map { case (c, i) => col(c) <=> col(s"__k$i") }.reduce(_ && _)
    val marked = df.join(broadcast(sel), cond, "left")
    update(marked, pred && col("__sel") === lit(true), sets, nowMs)
      .drop("__sel" +: ordCols.indices.map(i => s"__k$i"): _*)
  }

  def update(df: DataFrame, where: Column, sets: Map[String, SetExpr],
             nowMs: Long): DataFrame = {
    // Evaluate the predicate against the PRE-update row once — a SET on a
    // column the predicate reads must not re-trigger/untrigger later SETs.
    val marked = df.withColumn("__upd", where)
    val updated = sets.foldLeft(marked) { case (d, (c, s)) =>
      val newVal = s match {
        case Assign(v) => lit(v)
        case Add(n)    => col(c) + n
        case Sub(n)    => col(c) - n
        case SetNow    => lit(nowMs)
        case SetNull   => lit(null)
      }
      d.withColumn(c, when(col("__upd"), newVal).otherwise(col(c)))
    }
    updated.drop("__upd")
  }

  /** P4/R5: keyed delete as tombstone — flip version sign on matching rows
    * (DistributedDataRepositoryBaseOnTable.java:316-330). */
  def softDelete(df: DataFrame, where: Column): DataFrame =
    df.withColumn("version",
      when(where && col("version") > 0, -col("version")).otherwise(col("version")))

  /** Hard delete (left_anti semantics of P4). */
  def delete(df: DataFrame, where: Column): DataFrame = df.filter(!where)

  /** R5 read-side: live rows only (removeDeletedRows :481-488). */
  def live(df: DataFrame): DataFrame = df.filter(col("version") > 0)

  /** R9/D4: idempotent latest-wins replay — keep, per key, the row with
    * max abs(version) (insertDirectly/deleteDirectly :420-470). Shuffles
    * once on the key; at scale pre-partition the feed by the same key. */
  def latestWins(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(abs(col("version")).desc, col("version").desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** R6: incremental version-range scan — the replication feed. */
  def versionsGreaterThan(df: DataFrame, v: Long, limit: Int): DataFrame =
    df.filter(abs(col("version")) > v)
      .orderBy(abs(col("version"))).limit(limit)

  /** R7: max version — one aggregation replaces the reference's
    * binary-search-with-emptiness-probes (:168-189). */
  def maxVersion(df: DataFrame): DataFrame =
    df.agg(max(abs(col("version"))).as("maxVersion"))

  /** Time travel over the version algebra: the LIVE state as of version
    * `v` — drop every op newer than v, replay latest-wins on what
    * remains, drop tombstones. This is D4's full-sync snapshot
    * generalized to any point in version history (a row deleted after v
    * is alive in the snapshot; a row born after v is absent). Same
    * single key shuffle as [[latestWins]]. */
  def snapshotAsOf(df: DataFrame, keyCols: Seq[String], v: Long): DataFrame =
    live(latestWins(df.filter(abs(col("version")) <= v), keyCols))

  /** MVCC history compaction below a sync floor (the D4 full-sync
    * complement): every version a `snapshotAsOf(v >= floorV)` could
    * still observe is kept verbatim — rows with abs(version) > floorV —
    * while at-or-below the floor only each key's latest LIVE row
    * survives (the row `snapshotAsOf(floorV)` would return); superseded
    * versions and floor-latest tombstones are purged. Laws (pinned in
    * AlgebraLawsSpec): `snapshotAsOf(compact(df), v) == snapshotAsOf(df,
    * v)` and `snapshotDiff(compact(df), v1, v2) == snapshotDiff(df, v1,
    * v2)` for all floorV <= v (<= v1 <= v2). Readers BELOW the floor are
    * the ones giving up fidelity — that is the point: the ops feed
    * otherwise grows without bound, and no syncer sits below the floor.
    *
    * ONE shuffle: the rank that picks each key's floor-latest row
    * partitions on (key, belowFloor?), so above-floor rows ride the same
    * exchange unranked instead of paying a second pass. */
  def compactHistory(df: DataFrame, keyCols: Seq[String], floorV: Long): DataFrame = {
    val w = Window.partitionBy((keyCols.map(col) :+ col("__below")): _*)
      .orderBy(abs(col("version")).desc, col("version").desc)
    df.withColumn("__below", abs(col("version")) <= floorV)
      .withColumn("__rn", row_number().over(w))
      .filter(!col("__below") || (col("__rn") === 1 && col("version") > 0))
      .drop("__below", "__rn")
  }

  /** CDC between two points of the version history: per key, the live
    * state at v1 vs at v2 — `insert` (absent → live, revivals included),
    * `delete` (live → absent), `update` (both live, anything changed —
    * a newer same-payload version IS a change); untouched keys drop out.
    * ONE aggregation over rows with abs(version) ≤ v2 computes BOTH
    * snapshots via conditional max_by ([[latestWins]]' (abs, sign)
    * tie-break as the ordering struct) — a single key shuffle where two
    * snapshot replays plus a full-outer join would pay three. Output:
    * key columns + changeType + `before`/`after` row structs (null on
    * the absent side). */
  def snapshotDiff(df: DataFrame, keyCols: Seq[String],
                   v1: Long, v2: Long): DataFrame = {
    require(v1 <= v2, "need v1 <= v2")
    val attrs = struct(df.columns.map(col): _*)
    val ord = struct(abs(col("version")), col("version"))
    val agged = df.filter(abs(col("version")) <= v2)
      .groupBy(keyCols.map(col): _*)
      .agg(
        max_by(attrs, when(abs(col("version")) <= v1, ord)).as("__b0"),
        max_by(attrs, ord).as("__a0"))
    val liveB = col("__b0").isNotNull && col("__b0").getField("version") > 0
    val liveA = col("__a0").isNotNull && col("__a0").getField("version") > 0
    agged
      .withColumn("before", when(liveB, col("__b0")))
      .withColumn("after", when(liveA, col("__a0")))
      .filter(col("before").isNotNull || col("after").isNotNull)
      .withColumn("changeType",
        when(col("before").isNull, lit("insert"))
          .when(col("after").isNull, lit("delete"))
          .otherwise(lit("update")))
      .filter(col("changeType") =!= "update" || col("before") =!= col("after"))
      .drop("__b0", "__a0")
  }
}
