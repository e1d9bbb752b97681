package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
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

  /** What `body` starts in the shared session: its Spark jobs (counted
    * by job group), its SQL executions, and over the tasks of its jobs
    * the shuffle records read, the input records read and the largest
    * shuffle read of one task. Listener delivery is asynchronous but
    * ordered, so what `body` caused is what is delivered between a
    * marker action run before it and one run after it. The markers are
    * told apart by their QueryExecution, not by action name: `body` may
    * run the same actions, and an earlier action's event may still be
    * queued when the listeners are added. */
  def countersDuring(body: => Unit): Counters = {
    val sc = spark.sparkContext
    val group = "graft-counted"
    val sqls = new ConcurrentLinkedQueue[QueryExecution]
    val groups = new ConcurrentLinkedQueue[String]
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val (shuffle, input, maxShuffle) = (new AtomicLong, new AtomicLong, new AtomicLong)
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = sqls.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = sqls.add(qe)
    }
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (g == group) e.stageIds.foreach(stages.add)
        groups.add(g)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null) {
          val read = e.taskMetrics.shuffleReadMetrics.recordsRead
          shuffle.addAndGet(read)
          input.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
          maxShuffle.accumulateAndGet(read, math.max)
        }
    }
    spark.listenerManager.register(qel)
    sc.addSparkListener(sl)
    try {
      // collect() reports the Dataset's own QueryExecution to the listener
      val (start, end) = (spark.range(1), spark.range(1))
      start.collect()
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("graft-marker", "marker")
      try end.collect() finally sc.clearJobGroup()
      def window = sqls.asScala.toSeq.dropWhile(_ ne start.queryExecution).drop(1)
      def delivered = window.exists(_ eq end.queryExecution) && groups.contains("graft-marker")
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!delivered && System.nanoTime() < deadline) Thread.sleep(20)
      assert(delivered, "marker actions never delivered")
      Counters(groups.asScala.count(_ == group),
        window.takeWhile(_ ne end.queryExecution).size,
        shuffle.get, input.get, maxShuffle.get)
    } finally {
      sc.removeSparkListener(sl)
      spark.listenerManager.unregister(qel)
    }
  }
}

/** Deterministic cost counters of one measured body; see
  * [[SparkSpec.countersDuring]]. */
final case class Counters(jobs: Int, sqlActions: Int, shuffleRecords: Long,
                          inputRecords: Long, maxTaskShuffleRead: Long)

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
