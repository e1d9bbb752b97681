package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
}

/** The testdata dirs TESTDATA.md lists, in its order. */
object TestdataDirs {
  val documented: Seq[String] = {
    val src = scala.io.Source.fromFile("TESTDATA.md", "UTF-8")
    try "`([^`]*/sf[0-9.]+)/?`".r.findAllMatchIn(src.mkString)
      .map(_.group(1)).toSeq
    finally src.close()
  }

  /** The documented dir of one scale, e.g. `scale("sf0.001")`. */
  def scale(sf: String): String = documented.find(_.endsWith(s"/$sf")).get
}
