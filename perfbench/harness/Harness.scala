package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType

/** Benchmark harness: one JVM, one closed-loop client, one workload.
  *
  * It starts its own session, optionally materializes the bucketed layout,
  * runs two untimed warm-up passes, the first of which doubles as the output
  * check (row count plus an order-independent content hash per entry), then
  * runs timed passes of the workload's entries until `--seconds` have
  * elapsed. Each entry is timed in two parts: `build` (the entry closure,
  * until its DataFrame returns) and `action` (the `count()` that forces it).
  * With `--trace 1`
  * the [[Tracer]] listeners are registered and every job carries the span
  * that caused it. Everything measured is written to `--out` as JSON, which
  * `perfbench/run.py` turns into metrics.
  *
  * `--hash <dir> --entries <name,...>` instead prints the same (rows, hash)
  * pair for each parquet directory `<dir>/<name>`: how expected values are
  * taken from a Verify dump.
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opts.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", opts("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (opts.contains("hash")) {
      hashDump(spark, opts("hash"), opts("entries").split(",").toSeq)
      spark.stop()
    } else run(spark, opts, (System.nanoTime() - t0) / 1e9)
  }

  /** Row count and order-independent content hash in one action: the sum,
    * exact in DECIMAL(38,0), of xxhash64 over the columns sorted by name. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.zipWithIndex.sortBy(_._1).map { case (_, i) => df.col(df.columns(i)) }
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toSeq: _*).cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }

  private def hashDump(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      val (rows, hash) = fingerprint(spark.read.parquet(s"$dir/$n"))
      println(s"""HASH {"entry": "$n", "rows": $rows, "hash": "$hash"}""")
    }

  private def run(spark: SparkSession, opts: Map[String, String], sessionS: Double): Unit = {
    val workload = opts("workload")
    val data = opts("data")
    val entries = opts("entries").split(",").toSeq
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val tracer = if (opts("trace") == "1") Some(Tracer.install(spark)) else None
    val queries = graft.SparkEntry.queries
    val missing = entries.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown entries: ${missing.mkString(", ")}")

    val layoutS =
      if (opts.get("layout").contains("bucketed")) {
        tracer.foreach(_.span("layout"))
        graft.model.DerivedState.register(spark, data)
        val t = System.nanoTime()
        graft.core.Scale.writeStateTables(spark.table("file"),
          spark.table("block"), spark.table("datanode"))
        // the state families read file/block/datanode and events; the
        // lineitem/orders layout (writeRelationalTables) would go unread
        graft.core.Scale.writeEventsTable(spark.table("events"))
        spark.conf.set("graft.layout", "bucketed")
        spark.conf.set(graft.core.Tables.LayoutDirKey, data)
        (System.nanoTime() - t) / 1e9
      } else 0.0

    val rng = new Random(seed)
    def order(): Seq[String] = rng.shuffle(entries)

    /** One entry: clear caches (untimed), then time build and action. */
    def entry(pass: String, name: String, check: Boolean): Map[String, Any] = {
      spark.catalog.clearCache()
      val span = s"$pass/$name"
      val start = System.currentTimeMillis()
      var buildS, actionS = 0.0
      var rows = -1L
      var hash: String = null
      var error: String = null
      try {
        tracer.foreach(_.span(s"$span/build"))
        var t = System.nanoTime()
        val df = queries(name)(spark, data)
        buildS = (System.nanoTime() - t) / 1e9
        tracer.foreach(_.span(s"$span/action"))
        t = System.nanoTime()
        if (check) { val (n, h) = fingerprint(df); rows = n; hash = h }
        else rows = df.count()
        actionS = (System.nanoTime() - t) / 1e9
      } catch {
        case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      } finally tracer.foreach(_.span(null))
      Map("entry" -> name, "start_ms" -> start, "end_ms" -> System.currentTimeMillis(),
        "build_s" -> buildS, "action_s" -> actionS, "rows" -> rows, "hash" -> hash,
        "error" -> error)
    }

    def pass(p: String, check: Boolean): Map[String, Any] = {
      val names = order()
      val start = System.currentTimeMillis()
      val t = System.nanoTime()
      val results = names.map(entry(p, _, check))
      val wall = (System.nanoTime() - t) / 1e9
      // untimed full collection: no pass inherits the garbage of the one
      // before, so pass times and the peak resident set do not depend on
      // when the collector last ran
      System.gc()
      Map("pass" -> p, "start_ms" -> start, "end_ms" -> System.currentTimeMillis(),
        "wall_s" -> wall, "entries" -> results)
    }

    // Set-up ends with two untimed passes: the check, then one more, as
    // a fresh JVM still runs a second pass markedly slower than later ones.
    val warm = Seq(pass("check", check = true), pass("settle", check = false))
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val timed = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - timed) / 1e9 < seconds)
      passes += pass((passes.size + 1).toString, check = false)

    spark.stop() // drains the listener bus, so the tracer has every event
    val out = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> opts("cpus").toInt,
      "session_s" -> sessionS, "layout_write_s" -> layoutS,
      "warmup" -> warm, "passes" -> passes.toSeq,
      "rss_peak_mb" -> rssPeakMb(),
      "trace" -> tracer.map(_.report(warm ++ passes)).orNull)
    Files.writeString(Paths.get(opts("out")), Json(out))
  }

  /** Peak resident set of this JVM (VmHWM); in local mode, the engine's. */
  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}
