package graft

/** Benchmark main (driver contract): times SparkEntry.benchQueries on
  * SPARK_GRAFT_SF_DIR in a [[graft.core.Sessions.local]] session and
  * prints one JSON line.
  *
  * Methodology: one untimed warmup query amortizes session/codegen
  * startup; caches are cleared between repetitions so each runs cold from
  * parquet; each query is forced with count() (full plan execution).
  * Every query is timed SPARK_GRAFT_BENCH_REPS times (default 3) and the
  * reported number is the MEDIAN — a single timed run proved untrustworthy
  * on a loaded machine (one noisy round-5 run read 1.89x of baseline while
  * an idle re-run reproduced ~1.0x). A query whose median is itself
  * inflated (median/min > 1.5) retries up to SPARK_GRAFT_BENCH_RETRIES
  * (default 4) extra runs hunting for an uncontended window, reporting the
  * median of the fastest `reps` runs; if no clean window appears, the
  * per-query `contract` field falls back to the MIN of the reps — the one
  * number box load can only inflate — and the query is listed in
  * `contractUnverified` with the OS 1-minute load average sampled around
  * its runs: min-substitution is only corroborated as exogenous box load
  * when the OS agrees (load > 1.25× cores — above what the bench's own
  * saturated local[N] plus GC sustains); otherwise the slow runs may be
  * the query's own bimodal behavior and the entry reads as suspect. The
  * per-query min/median/max spread is printed in the same JSON line so a
  * contaminated run is visible. A whole-run drift guard on top: when the
  * full views-layout set's contract total exceeds the committed
  * reference (tools/bench_reference.json, pinned for one core count and
  * applied only on a session of that count) by >12%, the entire set
  * re-runs once and each query keeps its faster window — the per-query
  * guard cannot see a run that lands wholly in a slow window (the r14
  * canonical artifact read 25% above a same-tree pair; the r15 one
  * slipped a +13.8% window through the original 15% trigger while the
  * round's own paired runs put the uniform box-dip magnitude at 8-11%,
  * so the threshold sits at the top of that band). */
object Bench {

  /** The reference total of a `tools/bench_reference.json` text when its
    * `cpus` field equals `cpus`, else None: a total pinned on another
    * core count, or on an unrecorded one, says nothing about this box. */
  def pinnedReference(json: String, cpus: Int): Option[Double] = {
    def field(k: String) = ("\"" + k + "\"\\s*:\\s*([0-9.]+)").r
      .findFirstMatchIn(json).map(_.group(1))
    if (field("cpus").contains(cpus.toString))
      field("viewsContractTotal").map(_.toDouble)
    else None
  }

  /** OS 1-minute load average (−1 when unreadable). Advisory: it
    * includes this JVM's own local[N] execution. */
  private def loadAvg1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // optional comma-separated subset for local iteration (driver sets
    // neither). An explicit subset may name ANY gate query — new-entry
    // familiarization timings use this — while the default run times
    // exactly the headline set.
    val only = SparkEntry.subset(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val names = only.fold(SparkEntry.benchQueries)(_.toSeq.sorted)
    val spark = graft.core.Sessions.local()

    // warmup (untimed): session, codegen, parquet footer caches
    SparkEntry.queries("q6_revenue_forecast")(spark, sfDir).count()

    // SPARK_GRAFT_BENCH_LAYOUT=bucketed: materialize the cluster layout
    // ONCE (the amortized per-snapshot write a deployment pays) and run
    // every state-table query over it instead of the per-query derived
    // views — the per-round tracking of what Scale.writeStateTables
    // buys. The write cost is reported separately in the JSON, never
    // folded into a query's time; the default run is unchanged.
    val layout = sys.env.getOrElse("SPARK_GRAFT_BENCH_LAYOUT", "views")
    // fail fast on a typo'd mode: an unknown value would silently bench
    // the views layout while LABELING the JSON with the given string,
    // corrupting the per-round bucketed-vs-views tracking
    require(layout == "views" || layout == "bucketed",
      s"SPARK_GRAFT_BENCH_LAYOUT must be 'views' or 'bucketed', got '$layout'")
    val layoutWriteSec =
      if (layout == "bucketed") graft.core.Scale.activateBucketedLayout(spark, sfDir)
      else 0.0

    // true median: midpoint average for even rep counts — ts(size/2) would
    // report the WORSE of two runs under REPS=2, defeating the purpose
    def median(ts: Seq[Double]): Double =
      if (ts.size % 2 == 1) ts(ts.size / 2)
      else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2.0
    // a reading is contended when the reported median is itself inflated:
    // median/min > 1.5 means at least half the reps ran slow (the machine
    // was busy for the bulk of the measurement). One stray slow rep out of
    // three is ordinary GC jitter and doesn't move the median, so max/min
    // is deliberately NOT the signal. Sub-second medians are exempt: JIT
    // noise dominates there.
    def isContended(ts: Seq[Double]): Boolean =
      ts.head > 0 && median(ts) / ts.head > 1.5 && median(ts) > 1.0
    // up to `maxRetries` EXTRA runs per contended query: round-10's
    // committed bench carried a 2.02x median on unchanged code purely from
    // box load, and the fix the round-10 audit prescribed is "keep running
    // until a clean window appears". The reading is the median of the
    // fastest `reps` runs — a loaded-machine slow run says nothing about
    // the code, the fast runs do; the full spread is still printed.
    val maxRetries = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRIES", "4").toInt
    // independent contention corroboration: the 1-minute OS load average
    // sampled around each query's runs. The median/min heuristic alone
    // cannot distinguish exogenous box load from endogenous bimodal
    // behavior (query-induced spill/GC) — a min-fallback reading is only
    // trustworthy as a "box was busy" story when the OS agrees the box
    // was busy. CAVEAT (round-12 review): /proc/loadavg includes THIS
    // bench's own local[N] execution (and its GC threads), and the
    // 1-minute window means loadBefore still carries the previous
    // query's runs — so the corroboration bar is 1.25× the core count,
    // comfortably above what a saturated self-load sustains, and the
    // field remains advisory: an uncorroborated fallback must be read
    // as a possible real regression. Sampled cheaply from /proc/loadavg.
    def measure(name: String): (String, Vector[Double], Boolean, Vector[Double], Int, Double) = {
      var failed = false
      def once(): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try { SparkEntry.queries(name)(spark, sfDir).count() }
        catch {
          case e: Throwable =>
            failed = true
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      val loadBefore = loadAvg1m()
      var all = (1 to reps).map(_ => once()).toVector
      var retries = 0
      while (!failed && isContended(all.sorted.take(reps)) && retries < maxRetries) {
        all :+= once()
        retries += 1
      }
      val loadAfter = loadAvg1m()
      // reading = fastest `reps` runs; ALL runs (retry outliers included)
      // stay in `allRuns` so `spread` never hides a contaminated window
      (name, all.sorted.take(reps), failed, all.sorted, retries,
        math.max(loadBefore, loadAfter))
    }
    var results = names.map(measure)
    // the FIRST-PASS contract total, captured before any guard merge:
    // when the cross-run guard fires, the committed per-query numbers
    // become a min-of-two-windows COMPOSITE whose headline total no
    // single run measured — recording both makes the artifact
    // self-describing about which protocol produced which number
    // (ADVICE r17), and the first-pass total is the only re-pinnable
    // one (tools/bench_reference.json is first-pass-to-first-pass).
    val firstPassResults = results
    // CROSS-RUN drift guard (round-14 audit): the per-query median/min
    // heuristic can't see a whole run that lands in a slow window — the
    // r14 canonical artifact read 25% above a same-tree back-to-back
    // pair with contended=false on every line. The committed reference
    // total (tools/bench_reference.json, re-pinned each round from the
    // FIRST-PASS total of an idle-box views run — never from a guarded
    // min-of-two composite, which would ratchet the pin downward each
    // round; ADVICE r16) is the cross-run signal: when the full
    // headline set's contract total exceeds it by >12% (r17: was 10%,
    // the TOP of the measured 8-11% uniform box-dip band — typical
    // clean runs exceeded a best-case composite pin there and fired
    // routinely; 12% sits above the band while still catching r15's
    // +13.8% slip), the WHOLE set re-runs once and each query reports
    // its faster window (slow windows only ever inflate; the union of
    // runs stays in `spread`).
    // Guarded only on the canonical shape (views layout, full set) so
    // layout passes and subset familiarization runs stay single-pass.
    def contractVal(ts: Seq[Double]): Double =
      if (isContended(ts)) ts.head else median(ts)
    def contractTotal(rs: Seq[(String, Vector[Double], Boolean, Vector[Double], Int, Double)]): Double =
      rs.collect { case (_, ts, false, _, _, _) => contractVal(ts) }.sum
    val guarded = layout == "views" && only.isEmpty
    val refTotal: Option[Double] = {
      val cpus = graft.core.Sessions.cpus
      val pin =
        try {
          val src = scala.io.Source.fromFile("tools/bench_reference.json")
          try pinnedReference(src.mkString, cpus) finally src.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      if (pin.isEmpty && guarded)
        System.err.println(s"[bench] cross-run guard off: " +
          s"tools/bench_reference.json holds no pin for $cpus cores")
      pin
    }
    val crossRunRetry = guarded &&
      !results.exists(_._3) &&
      refTotal.exists(r => contractTotal(results) > r * 1.12)
    if (crossRunRetry) {
      // the FIRST-PASS total is the re-pinnable number (the guarded
      // composite below is min-of-windows and must never become the pin)
      System.err.println(s"[bench] cross-run guard: FIRST-PASS contract " +
        f"total ${contractTotal(results)}%.2f s exceeds the pinned " +
        f"reference ${refTotal.get}%.2f s by >12%% — re-running the full set")
      val second = names.map(measure)
      results = results.zip(second).map { case (a, b) =>
        val pick = if (b._3) a
          else if (a._3) b
          else if (contractVal(b._2) < contractVal(a._2)) b else a
        (pick._1, pick._2, pick._3, (a._4 ++ b._4).sorted,
          a._5 + b._5, math.max(a._6, b._6))
      }
    }
    // a failed query reports null, never its time-to-failure: a crash must
    // not read as a speedup in the committed JSON
    val qs = results.map { case (k, ts, failed, _, _, _) =>
      "\"" + k + "\":" + (if (failed) "null" else median(ts).toString)
    }.mkString("{", ",", "}")
    // spread covers EVERY run including discarded retry outliers — a
    // heavily-retried query shows its slow tail here even when the
    // reported median comes from the clean window
    val spread = results.map { case (k, _, failed, allRuns, _, _) =>
      "\"" + k + "\":" +
        (if (failed) "null"
         else s"[${allRuns.head},${median(allRuns)},${allRuns.last}]")
    }.mkString("{", ",", "}")
    val retriesJson = results.map { case (k, _, _, _, r, _) =>
      "\"" + k + "\":" + r
    }.mkString("{", ",", "}")
    val failedNames = results.collect { case (k, _, true, _, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // a run with any failure reports a null TOTAL too: a sum missing a
    // crashed query's time would read as a cross-round speedup
    val total =
      if (results.exists(_._3)) "null"
      else results.collect { case (_, ts, false, _, _, _) => median(ts) }.sum.toString
    // contention guard: flag the artifact when a query's REPORTED number
    // is itself inflated — median/min > 1.5x means at least half the reps
    // ran slow, i.e. the machine was busy for the bulk of the measurement
    // (round-9's committed bench read 4.9x on code that hadn't changed).
    // One stray slow rep out of three is ordinary GC/page-cache jitter
    // and doesn't move the median, so max/min is deliberately NOT the
    // signal. Sub-second medians are exempt: JIT noise dominates there.
    val contendedNames = results.collect {
      case (k, ts, false, _, _, _) if isContended(ts) => "\"" + k + "\""
    }
    // contract value per query (the "within 2x of baseline" line): the
    // median when the reading is clean, the MIN of the reps when the
    // retries never found an uncontended window — the minimum is the one
    // number box load can only inflate, never deflate. A min-fallback is
    // NOT a clean reading: it is listed in contractUnverified, and it is
    // only CORROBORATED as box load when the OS load average around the
    // runs exceeded the core count — an uncorroborated fallback may be
    // endogenous bimodal behavior (query-induced spill/GC) and must be
    // treated as a possible real regression, not noise
    val nCores = Runtime.getRuntime.availableProcessors.toDouble
    val contract = results.map { case (k, ts, failed, _, _, _) =>
      "\"" + k + "\":" + (if (failed) "null"
        else if (isContended(ts)) ts.head.toString else median(ts).toString)
    }.mkString("{", ",", "}")
    val unverified = results.collect {
      case (k, ts, false, _, _, load) if isContended(ts) =>
        s"""{"query":"$k","load1m":$load,"corroborated":${load > nCores * 1.25}}"""
    }.mkString("[", ",", "]")
    val contended = contendedNames.nonEmpty
    if (contended)
      System.err.println(s"[bench] CONTENDED (max/min > 1.5x): " +
        contendedNames.mkString(", ") + " — re-run on an idle box")
    // both protocol totals ride the artifact (ADVICE r17): firstPass =
    // what one actual run measured (the re-pinnable number); composite =
    // the per-query min-of-windows the guard merge produces (equal to
    // firstPass when the guard never fired). Null on any failure, like
    // `total`.
    def totalOrNull(rs: Seq[(String, Vector[Double], Boolean, Vector[Double], Int, Double)]) =
      if (rs.exists(_._3)) "null" else contractTotal(rs).toString
    val guardJson = s"""{"triggered":$crossRunRetry,"referenceTotal":${
      refTotal.map(_.toString).getOrElse("null")},"firstPassContractTotal":${
      totalOrNull(firstPassResults)},"compositeContractTotal":${
      totalOrNull(results)}}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"reps":$reps,"spread":$spread,"failed":$failedNames,"contended":$contended,"contendedQueries":[${contendedNames.mkString(",")}],"contract":$contract,"contractUnverified":$unverified,"retries":$retriesJson,"crossRunGuard":$guardJson,"layout":"$layout","layoutWriteSec":$layoutWriteSec,"sf":"$sfDir"}""")
    spark.stop()
  }
}
