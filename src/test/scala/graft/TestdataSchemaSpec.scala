package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.core.Tables
import graft.model.{DerivedState, TestdataSchema}

/** The declared testdata schemas are a contract with the files: Spark
  * does not fail a declared column that is missing from a parquet file,
  * it returns NULLs. So every declaration is compared, nullability
  * included, with the schema Spark infers from each testdata directory
  * — the ones TESTDATA.md lists plus the benchmark's committed copy.
  * The zero-job case keeps an inferring read from creeping back into
  * table registration. */
class TestdataSchemaSpec extends SparkSpec {

  private val documentedDirs = TestdataDirs.documented
  private val dirs = documentedDirs :+ "perfbench/data/sf0.1"

  test("TESTDATA.md lists the three testdata scales") {
    assert(documentedDirs.map(_.split('/').last) ==
      Seq("sf0.001", "sf0.01", "sf0.1"), documentedDirs)
  }

  for (dir <- dirs)
    test(s"declared schemas equal the inferred parquet schemas: $dir") {
      assert(new java.io.File(dir).isDirectory, s"missing testdata dir $dir")
      TestdataSchema.names.foreach { t =>
        val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
        assert(TestdataSchema(t) == inferred,
          s"$dir/$t: declared ${TestdataSchema(t).toDDL}, " +
            s"file ${inferred.toDDL}")
      }
    }

  test("DerivedState.register and Tables.load launch no Spark job") {
    val sf = TestdataDirs.scale("sf0.001")
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-register", "register")
      try {
        DerivedState.register(spark, sf)
        TestdataSchema.names.foreach(t => Tables.load(spark, sf, t))
      } finally sc.clearJobGroup()
      // listener delivery is asynchronous but ordered: once a marker job
      // started after register() returned is seen, so is every job
      // register() started
      sc.setJobGroup("graft-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!groups.contains("graft-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("graft-marker"), "marker job never delivered")
      assert(groups.asScala.count(_ == "graft-register") == 0,
        s"registration launched jobs: ${groups.asScala.mkString(", ")}")
    } finally sc.removeSparkListener(listener)
  }
}
