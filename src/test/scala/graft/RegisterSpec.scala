package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core.{Caching, Scale, Tables}
import graft.model.{DerivedState, TestdataSchema}

/** `DerivedState.register` is a no-op while the session still holds the
  * views its last call installed from unchanged inputs, and registers
  * again after any change it can observe: a replaced view, another dir,
  * a rewritten testdata file, a layout switch, a rewritten shadow table,
  * a new session. */
class RegisterSpec extends SparkSpec {

  private val sf = TestdataDirs.scale("sf0.001")
  private val names = TestdataSchema.names ++ DerivedState.derived.map(_._1)

  private def views(s: SparkSession) =
    names.map(n => n -> s.sessionState.catalog.getRawTempView(n).get).toMap

  /** (SQL executions, Spark jobs) `body` starts in the shared session. */
  private def actionsDuring(body: => Unit): (Int, Int) = {
    val c = countersDuring(body)
    (c.sqlActions, c.jobs)
  }

  private def count(t: String) = spark.table(t).count()

  test("countersDuring counts every SQL execution of a body that collects") {
    val c = countersDuring { spark.range(3).collect(); spark.range(5).collect() }
    assert(c.sqlActions == 2, s"$c")
  }

  test("a repeated register runs no SQL and no job, and keeps every view object") {
    // a replaced view makes this call a miss, which also shows the
    // counter sees the view commands a registration runs
    spark.range(1).toDF("id").createOrReplaceTempView("file")
    val (missSql, _) = actionsDuring(DerivedState.register(spark, sf))
    assert(missSql >= names.size, s"a registration ran only $missSql SQL actions")
    val installed = views(spark)
    assert(actionsDuring(DerivedState.register(spark, sf)) == ((0, 0)))
    val after = views(spark)
    names.foreach(n => assert(after(n) eq installed(n), s"$n was re-created"))
  }

  test("replacing a view, another dir and a rewritten testdata file each re-register") {
    DerivedState.register(spark, sf)
    val nations = count("nation")
    val files = count("file")
    spark.range(3).toDF("id").createOrReplaceTempView("file")
    DerivedState.register(spark, sf)
    assert(count("file") == files)

    val copy = Caching.scratchDir("register-copy")
    try {
      TestdataSchema.names.filter(_ != "nation").foreach { t =>
        Files.copy(Paths.get(s"$sf/$t.parquet"), copy.resolve(s"$t.parquet"))
      }
      def writeNation(below: Int): Unit =
        Tables.readDeclared(spark, sf, "nation")
          .filter(col("n_nationkey") < below).coalesce(1)
          .write.mode("overwrite").parquet(copy.resolve("nation.parquet").toString)
      writeNation(5)
      DerivedState.register(spark, copy.toString)
      assert(count("nation") == 5)
      val copyFiles = count("file")
      assert(copyFiles < files)
      writeNation(3)
      DerivedState.register(spark, copy.toString)
      assert(count("nation") == 3)
      assert(count("file") < copyFiles)
    } finally DerivedState.register(spark, sf)
    assert(count("nation") == nations && count("file") == files)
  }

  test("a new session registers its own views; the old record still holds") {
    DerivedState.register(spark, sf)
    val s2 = spark.newSession()
    assert(s2.sessionState.catalog.getRawTempView("file").isEmpty)
    DerivedState.register(s2, sf)
    assert(s2.table("file").count() == count("file"))
    assert(actionsDuring(DerivedState.register(spark, sf)) == ((0, 0)))
  }

  test("a layout switch, a rewritten shadow table and the provenance check") {
    def readsShadow = spark.table("file").queryExecution.executedPlan.toString
      .contains("graft_state_file")
    DerivedState.register(spark, sf)
    val files = count("file")
    // bound to the derivation before the layout shadows these names
    val (file, block, datanode) =
      (spark.table("file"), spark.table("block"), spark.table("datanode"))
    try {
      Scale.activateBucketedLayout(spark, sf)
      DerivedState.register(spark, sf)
      assert(readsShadow && count("file") == files)
      assert(actionsDuring(DerivedState.register(spark, sf)) == ((0, 0)))

      Scale.writeStateTables(file.filter(col("parentId") === 0L), block, datanode)
      DerivedState.register(spark, sf)
      val nationDirs = count("nation")
      assert(readsShadow && count("file") == nationDirs)

      // the check runs before the record is consulted, and a refused
      // call leaves the record as it was
      val other = TestdataDirs.scale("sf0.01")
      spark.conf.set(Tables.LayoutDirKey, other)
      val e = intercept[IllegalArgumentException](DerivedState.register(spark, sf))
      assert(e.getMessage.contains(s"written from $other"))
      spark.conf.set(Tables.LayoutDirKey, sf)
      assert(actionsDuring(DerivedState.register(spark, sf)) == ((0, 0)))
    } finally {
      spark.conf.unset("graft.layout")
      spark.conf.unset(Tables.LayoutDirKey)
      DerivedState.register(spark, sf)
    }
    assert(!readsShadow && count("file") == files)
  }
}
