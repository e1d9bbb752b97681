package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // optional comma-separated subset for local iteration (driver sets
    // neither); see SparkEntry.subset. The SAME filter applies to
    // oracle_sql.json below, so a subset run can never pair fresh oracles
    // with stale parquet (or vice versa) for the skipped queries.
    val only = SparkEntry.subset(sys.env.get("SPARK_GRAFT_VERIFY_ONLY"))
    val spark = graft.core.Sessions.local()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_LAYOUT=bucketed: materialize the cluster layout
    // ONCE (Scale.activateBucketedLayout) and run the gate over it — every
    // state-table query then reads real bucketed parquet, so keyPrune's
    // scan pushdown and the co-located join paths are ORACLE-gated, not
    // just bench/spec-verified. The oracle side is unchanged (DuckDB
    // derives the same rows from the same base parquet), so any
    // layout-induced drift fails the hash.
    val layout = sys.env.getOrElse("SPARK_GRAFT_VERIFY_LAYOUT", "views")
    require(layout == "views" || layout == "bucketed",
      s"SPARK_GRAFT_VERIFY_LAYOUT must be 'views' or 'bucketed', got '$layout'")
    if (layout == "bucketed") graft.core.Scale.activateBucketedLayout(spark, sfDir)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        spark.catalog.clearCache() // per-query hygiene (some ops cache)
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
