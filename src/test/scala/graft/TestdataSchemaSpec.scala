package graft

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
    val c = countersDuring {
      DerivedState.register(spark, sf)
      TestdataSchema.names.foreach(t => Tables.load(spark, sf, t))
    }
    assert(c.jobs == 0, s"registration launched jobs: $c")
  }
}
