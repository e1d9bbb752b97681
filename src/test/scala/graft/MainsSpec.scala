package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The plumbing the mains share: the `*_ONLY` subset parser, and source
  * checks that keep session building in one place, timing out of the
  * operators, the deleted rehearsal mains out of main code, and the
  * release of pins inside graft.core.Caching. */
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

  test("pinnedReference: a pin applies only on the core count it was taken on") {
    val pin = """{"viewsContractTotal": 23.98, "cpus": 32, "note": "n"}"""
    assert(Bench.pinnedReference(pin, 32).contains(23.98))
    assert(Bench.pinnedReference(pin, 4).isEmpty)
    assert(Bench.pinnedReference("""{"viewsContractTotal": 23.98}""", 32).isEmpty)
    assert(Bench.pinnedReference(
      Files.readString(Paths.get("tools/bench_reference.json")), 32).contains(23.98))
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
      "SPARK_GRAFT_XL_N5_REPS", "SPARK_GRAFT_Q_ONLY")
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
}
