package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The plumbing the mains share: the `*_ONLY` subset parser, Bench's
  * summary and JSON line, and source checks that keep session building
  * in one place, timing out of the operators, the deleted rehearsal
  * mains and Bench heuristics out of main code, and the release of pins
  * inside graft.core.Caching. */
class MainsSpec extends AnyFunSuite {

  test("subset: names are trimmed, empties dropped, unknown names rejected") {
    assert(SparkEntry.subset(None).isEmpty)
    assert(SparkEntry.subset(Some("")).isEmpty)
    assert(SparkEntry.subset(Some(" , ")).isEmpty)
    assert(SparkEntry.subset(Some(" q1_pricing_summary, n11_fsck ,")) ==
      Some(Set("q1_pricing_summary", "n11_fsck")))
    // Bench's default set no longer passes through a contains filter
    assert(SparkEntry.subset(Some(SparkEntry.benchQueries.mkString(","))) ==
      Some(SparkEntry.benchQueries.toSet))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.subset(Some("q1_pricing_summary,no_such_entry"))
    }
    assert(e.getMessage.contains("no_such_entry"))
  }

  test("Bench.summary: min, midpoint median and max over every run") {
    assert(Bench.summary(Seq(2.0)) == ((2.0, 2.0, 2.0)))
    assert(Bench.summary(Seq(3.0, 1.0)) == ((1.0, 2.0, 3.0)))
    assert(Bench.summary(Seq(5.0, 1.0, 2.0)) == ((1.0, 2.0, 5.0)))
    assert(Bench.summary(Seq(4.0, 1.0, 9.0, 2.0)) == ((1.0, 3.0, 9.0)))
  }

  test("Bench.line: totals sum medians and minimums; a failed entry nulls both") {
    val ok = Bench.line(Seq("a" -> Some(Seq(1.0, 3.0, 2.0)), "b" -> Some(Seq(4.0, 6.0))),
      3, "views", 0.0, "sf")
    assert(ok == """{"metric":"total","value":7.0,"unit":"sec",""" +
      """"queries":{"a":2.0,"b":5.0},"reps":3,""" +
      """"spread":{"a":[1.0,2.0,3.0],"b":[4.0,5.0,6.0]},"minTotal":5.0,""" +
      """"failed":[],"layout":"views","layoutWriteSec":0.0,"sf":"sf"}""")
    val bad = Bench.line(Seq("a" -> Some(Seq(1.0)), "b" -> None), 1, "bucketed", 2.5, "sf")
    assert(bad == """{"metric":"total","value":null,"unit":"sec",""" +
      """"queries":{"a":1.0,"b":null},"reps":1,""" +
      """"spread":{"a":[1.0,1.0,1.0],"b":null},"minTotal":null,""" +
      """"failed":["b"],"layout":"bucketed","layoutWriteSec":2.5,"sf":"sf"}""")
  }

  private val mainSources: Seq[(Path, String)] = {
    val stream = Files.walk(Paths.get("src/main/scala"))
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally stream.close()
  }

  test("SparkSession.builder appears only in core/Sessions.scala") {
    val builders = mainSources.collect {
      case (p, src) if src.contains("SparkSession.builder") => p.toString
    }
    assert(builders == Seq("src/main/scala/graft/core/Sessions.scala"))
  }

  test("no SPARK_GRAFT_PROFILE_ hooks in main code") {
    val hooks = mainSources.collect {
      case (p, src) if src.contains("SPARK_GRAFT_PROFILE_") => p.toString
    }
    assert(hooks.isEmpty)
  }

  test("no rehearsal mains or their env knobs in main code") {
    val gone = Seq("ScaleRehearsal", "RehearsalUtil",
      "SPARK_GRAFT_REHEARSAL_REPS", "SPARK_GRAFT_ALLOW_BIG_HEAP",
      "SPARK_GRAFT_BANDS", "SPARK_GRAFT_PLAN_DUMP",
      "SPARK_GRAFT_XL_N5_REPS", "SPARK_GRAFT_Q_ONLY",
      // and Bench's retry loop, reference pin and load-average probe
      "SPARK_GRAFT_BENCH_RETRIES", "bench_reference", "/proc/loadavg")
    val found = for ((p, src) <- mainSources; g <- gone if src.contains(g))
      yield s"$p: $g"
    assert(found.isEmpty)
  }

  test("unpersist only in Caching and Changefeed.withStandingFrame; no caller must unpersist") {
    val withStandingFrame = """(?s)def withStandingFrame.*?\n  }\n""".r
    val outside = mainSources.flatMap { case (p, src) =>
      val rest =
        if (p.endsWith("core/Caching.scala")) ""
        else if (p.endsWith("streaming/Changefeed.scala")) withStandingFrame.replaceAllIn(src, "")
        else src
      if (rest.contains(".unpersist(")) Some(p.toString) else None
    }
    assert(outside.isEmpty, outside)
    val mustRelease = mainSources.collect {
      case (p, src) if "(?i)must\\s+(\\*\\s+)?unpersist".r.findFirstIn(src).isDefined => p.toString
    }
    assert(mustRelease.isEmpty, mustRelease)
  }

  test("every Window.orderBy in main code is an allow-listed window with a named bound") {
    // (file, enclosing def) → what bounds the one partition the window
    // sorts; a new site needs a partition key or a row here
    val allowed = Map(
      ("StateManager.scala", "liveNodeRacks") ->
        "distinct live racks, past LiveNodeCap live nodes only",
      ("Balancer.scala", "packPass") ->
        "live nodes, cross-rack pass past PairsDriverLimit nodes only",
      ("Vectors.scala", "pqCodebook") -> "kCode codebook rows")
    val sites = for {
      (p, src) <- mainSources
      code = "(?s)/\\*.*?\\*/|//[^\n]*".r.replaceAllIn(src, "")
      m <- "Window\\.orderBy\\(".r.findAllMatchIn(code)
    } yield (p.getFileName.toString,
      "def (\\w+)".r.findAllMatchIn(code.substring(0, m.start)).map(_.group(1)).toSeq.last)
    assert(sites.toSet == allowed.keySet, sites)
  }
}
