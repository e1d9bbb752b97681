package graft

import org.apache.spark.sql.functions._

import graft.store.{Comparator, IndexDef, PostIsNull, PostNot, StateStore}

class StateStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val kv = Seq(
    (1L, "a", 10L, 1L), (2L, "b", 20L, 2L), (3L, "c", 30L, 3L),
    (4L, "d", 40L, -4L), (5L, "e", 50L, 5L),
  ).toDF("id", "name", "value", "version")

  private val ById = IndexDef("PRIMARY", Seq("id"))

  test("find with comparators, limit, offset") {
    assert(rows(StateStore.find(kv, ById, Seq(3L), Comparator.EQ)).map(_.head) == Seq(3L))
    assert(rows(StateStore.find(kv, ById, Seq(3L), Comparator.GT)).map(_.head).toSet == Set(4L, 5L))
    assert(rows(StateStore.find(kv, ById, Seq(3L), Comparator.LE, limit = 2)).map(_.head) == Seq(1L, 2L))
    assert(rows(StateStore.find(kv, ById, Seq(1L), Comparator.GE, limit = 2, offset = 1)).map(_.head) == Seq(2L, 3L))
    assert(rows(StateStore.find(kv, ById, Seq(1L, 3L, 5L), Comparator.IN)).map(_.head).toSet == Set(1L, 3L, 5L))
    // DEQ = equality in descending index order
    assert(rows(StateStore.find(kv, ById, Seq(2L), Comparator.DEQ)).map(_.head) == Seq(2L))
  }

  test("update evaluates predicate against pre-update row") {
    // SET value=now, id=id+100 WHERE value < 30: the value SET must not
    // change which rows the id SET applies to
    val out = StateStore.update(kv, col("value") < 30,
      Map("value" -> StateStore.SetNow, "id" -> StateStore.Add(100L)), nowMs = 999L)
    val m = rows(out.select(col("name"), col("id"), col("value"))).map(r => r.head -> (r(1), r(2))).toMap
    assert(m("a") == (101L, 999L) && m("b") == (102L, 999L) && m("c") == (3L, 30L))
  }

  test("P3 limited update writes only the first n matches in index order") {
    val t = Seq((1L, 10L, 1L), (2L, 20L, 2L), (3L, 30L, 3L), (4L, 40L, 4L))
      .toDF("id", "v", "version")
    val out = rows(StateStore.updateLimited(t,
        IndexDef("PRIMARY", Seq("id")), Seq(0L), Comparator.GT,
        Map("v" -> StateStore.Add(100L)), nowMs = 0L, limit = 2)
      .select(col("id"), col("v")))
      .map(r => r.head -> r.last).toMap
    // ids 1,2 (first two in index order) updated; 3,4 untouched
    assert(out == Map(1L -> 110L, 2L -> 120L, 3L -> 30L, 4L -> 40L))
  }

  test("soft delete tombstones and live() hides them") {
    val out = StateStore.softDelete(kv, col("id") === 1L)
    assert(rows(out.filter(col("id") === 1L)).head.last == -1L)
    assert(rows(StateStore.live(out)).map(_.head).toSet == Set(2L, 3L, 5L))
  }

  test("latest-wins replay keeps max abs(version) per key") {
    val ops = Seq((1L, "x", 0L, 3L), (1L, "y", 0L, -5L), (1L, "z", 0L, 4L),
      (2L, "q", 0L, 1L)).toDF("id", "name", "value", "version")
    val out = rows(StateStore.latestWins(ops, Seq("id")).select(col("id"), col("name")))
      .map(r => r.head -> r.last).toMap
    assert(out == Map(1L -> "y", 2L -> "q")) // -5 beats 4 on abs order
  }

  test("snapshotAsOf: deleted-after-v lives, born-after-v is absent") {
    val ops = Seq(
      (1L, "a", 0L, 3L), (1L, "a", 0L, -8L),   // deleted AFTER v=5 → alive at 5
      (2L, "b", 0L, 7L),                        // born after v=5 → absent
      (3L, "c", 0L, 2L), (3L, "c2", 0L, 5L),   // updated at exactly v → c2
      (4L, "d", 0L, -4L),                       // deleted before v → absent
    ).toDF("id", "name", "value", "version")
    val at5 = rows(StateStore.snapshotAsOf(ops, Seq("id"), 5L)
      .select(col("id"), col("name")).orderBy(col("id")))
    assert(at5 == Seq(Seq(1L, "a"), Seq(3L, "c2")))
    // as of "now" (max version) the snapshot equals live(latestWins)
    val now = rows(StateStore.snapshotAsOf(ops, Seq("id"), 100L)
      .select(col("id")).orderBy(col("id")))
    assert(now == Seq(Seq(2L), Seq(3L)))
  }

  test("post filters and version scans") {
    assert(rows(StateStore.postFilter(kv, Seq(PostNot("name", "a")))).size == 4)
    // on a non-unique index: NOT drops a null like SQL's <>, IS NULL
    // keeps only the null
    val grp = Seq((1L, 10L, "x", 1L), (2L, 10L, "y", 2L), (3L, 20L, "y", 3L),
      (4L, 10L, "z", 4L), (5L, 10L, null, 5L)).toDF("id", "grp", "tag", "version")
    val inGrp = StateStore.find(grp, IndexDef("GRP", Seq("grp")), Seq(10L), Comparator.EQ)
    assert(rows(StateStore.postFilter(inGrp, Seq(PostNot("tag", "x")))
      .select(col("id")).orderBy(col("id"))) == Seq(Seq(2L), Seq(4L)))
    assert(rows(StateStore.postFilter(inGrp, Seq(PostIsNull("tag"))).select(col("id")))
      == Seq(Seq(5L)))
    assert(rows(StateStore.versionsGreaterThan(kv, 3L, 10)).map(_.head) == Seq(4L, 5L))
    assert(rows(StateStore.maxVersion(kv)).head.head == 5L)
  }
}
