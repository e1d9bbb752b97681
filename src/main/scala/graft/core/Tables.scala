package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.TestdataSchema

/** Loaders for the driver-provided TPC-H-ish testdata
  * (see /root/repo/TESTDATA.md). Each table is one parquet file under
  * `sfDir`, read with its declared schema ([[TestdataSchema]]) so that
  * no read launches a footer-inference job. Kept as a plain parquet
  * scan so Catalyst can push filters/projections into it — callers
  * must NOT cache here.
  */
object Tables {
  /** The one read of a raw testdata table: its parquet file under
    * `sfDir`, with the declared schema instead of an inferred one. */
  def readDeclared(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(TestdataSchema(name)).parquet(s"$sfDir/$name.parquet")

  /** The raw tables with a materialized cluster layout
    * ([[Scale.writeRelationalTables]]). ONLY these shadow under
    * `graft.layout=bucketed`: the state/events families read their
    * layouts through the DerivedState views, and the text/vector
    * corpora are banded-join territory with no base bucketing
    * (QUERIES.md "Layout coverage"). */
  private val BucketedRaw = Set("lineitem", "orders")

  /** Conf key recording WHICH sfDir the bucketed shadow tables were
    * written from (set by [[Scale.activateBucketedLayout]] next to
    * `graft.layout=bucketed`). The shadow only engages when it matches
    * the requested dir — a caller loading lineitem/orders from a
    * DIFFERENT directory in the same session must not silently get the
    * other dataset's layout, so a mismatch (or a missing record) under
    * the bucketed layout fails loudly instead. */
  val LayoutDirKey = "graft.layout.sfDir"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (BucketedRaw(name) &&
        spark.conf.getOption("graft.layout").contains("bucketed") &&
        spark.catalog.tableExists(s"graft_state_$name")) {
      val written = spark.conf.getOption(LayoutDirKey)
      require(written.contains(sfDir),
        s"bucketed layout active but graft_state_$name was written from " +
          s"${written.getOrElse("<unrecorded>")}, not the requested $sfDir — " +
          s"set $LayoutDirKey when activating the layout, or load via views")
      spark.table(s"graft_state_$name")
    } else readDeclared(spark, sfDir, name)

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
