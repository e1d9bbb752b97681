package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cardinality, frequency and order-statistic sketches (SURVEY §2.5
  * F7): approx_count_distinct (HLL), a deterministic HLL, the mergeable
  * KMV bottom-k, count-min, and exact ranks by histogram refinement.
  * The reference's bloom-filter family is served by the on-disk
  * BloomMapFile read path ([[graft.sources.Formats.bloomMapFileGet]]).
  */
object Sketches {

  /** HLL cardinality per group — the sketch analog of COUNT(DISTINCT). */
  def approxDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     rsd: Double = 0.05): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as("approxDistinct"))

  /** EXACT global order statistics over a non-negative LONG column
    * WITHOUT a global sort or a single-partition window — the corpus
    * quantile cutoffs a 100 TB bucketing pass needs (CCNet's
    * head/middle/tail split). Histogram refinement: each level runs ONE
    * bounded hash aggregate (at most ranks×(base+1) bins reach the
    * driver), every rank's bracket narrows by base× per level, so a
    * value range of 1e9 at the default base costs 3 histogram passes
    * plus the min/max/count pass. `ranks` are 1-based k-th-smallest
    * with duplicates counted (the PERCENTILE_DISC order statistic, same
    * definition as the t18/t22 oracles' ROW_NUMBER pick). The input is
    * scanned once per level — hand a materialized/checkpointed narrow
    * projection, not an expensive live plan. */
  def exactLongRanks(df: DataFrame, valueCol: String, ranks: Seq[Long],
                     base: Long = 1024L): Map[Long, Long] = {
    require(base >= 2, "base must be >= 2")
    val v = df.select(col(valueCol).cast("long").as("__v"))
      .filter(col("__v").isNotNull)
    val head = v.agg(min(col("__v")).as("mn"), max(col("__v")).as("mx"),
      count(lit(1)).as("n")).collect()(0)
    if (head.isNullAt(0)) {
      require(ranks.isEmpty, "ranks requested over an empty column")
      return Map.empty
    }
    val (mn, mx, n) = (head.getLong(0), head.getLong(1), head.getLong(2))
    require(mn >= 0, s"exactLongRanks expects non-negative values, saw $mn")
    ranks.foreach(r => require(1 <= r && r <= n, s"rank $r outside 1..$n"))
    // uniform global bin grid: width = base^k with ≤ base bins over the
    // full range, so every bracket at every level spans ≤ base+1 bins.
    // Grow while width*base <= span (≡ width*base < span+1 without the
    // +1, which overflows to negative when the span nears Long.MaxValue
    // and would freeze width at 1 — an unbounded level-1 histogram).
    val span = mx - mn
    var width = 1L
    while (width <= Long.MaxValue / base && width * base <= span) width *= base
    // per rank: (bracket lo, bracket hi inclusive, rank within bracket)
    var state: Map[Long, (Long, Long, Long)] =
      ranks.distinct.map(r => r -> ((mn, mx, r))).toMap
    var resolved = Map.empty[Long, Long]
    while (state.nonEmpty) {
      val w = width
      val brackets = state.values.map { case (lo, hi, _) => (lo, hi) }.toSeq.distinct
      val inBracket = brackets.map { case (lo, hi) =>
        col("__v") >= lo && col("__v") <= hi }.reduce(_ || _)
      val hist = v.filter(inBracket)
        .groupBy(expr(s"(__v - ${mn}L) DIV ${w}L").as("__bin"))
        .agg(count(lit(1)).as("__c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      state = state.flatMap { case (r, (lo, hi, rw)) =>
        var acc = 0L
        var bin = (lo - mn) / w
        val binEnd = (hi - mn) / w
        var hit = -1L
        var rwb = 0L
        while (hit < 0 && bin <= binEnd) {
          val c = hist.getOrElse(bin, 0L)
          if (acc + c >= rw) { hit = bin; rwb = rw - acc }
          acc += c; bin += 1
        }
        assert(hit >= 0, s"rank $r not found in bracket [$lo,$hi] at width $w")
        val nlo = math.max(lo, mn + hit * w)
        // for hit < binEnd, mn + (hit+1)*w - 1 <= mx (no overflow); for
        // the LAST bin that expression can wrap past Long.MaxValue when
        // the range is extreme, so take hi directly
        val nhi = if (hit == binEnd) hi else math.min(hi, mn + (hit + 1) * w - 1)
        if (nlo == nhi) { resolved += r -> nlo; None }
        else Some(r -> ((nlo, nhi, rwb)))
      }
      width = math.max(1L, width / base)
    }
    resolved
  }

  /** Bounded k-minimum-values buffer: a custom typed Aggregator whose
    * partial state is AT MOST k distinct hash values — the production
    * shape for distinct estimation: map-side partials are k longs per
    * partition and the merge is k-bounded, so nothing ever shuffles
    * O(distinct). (Contrast a distinct().orderBy().limit(k), which
    * shuffles the full distinct set.) */
  final class KMinValues(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Long, Array[Long], Array[Long]]
      with Serializable {
    // a non-positive k would surface as an opaque executor-side
    // ArrayIndexOutOfBounds in reduce (b.last on empty) — refuse up front
    require(k >= 1, s"KMinValues needs k >= 1, got $k")
    // buffer = SORTED distinct array, ≤ k elements — the native array
    // encoder round-trips it exactly (a kryo'd TreeSet comes back as a
    // HashSet and loses the ordering contract); inserts rebuild the
    // ≤ k-long array, trivial at sketch sizes
    def zero: Array[Long] = Array.emptyLongArray
    private def insert(b: Array[Long], a: Long): Array[Long] = {
      val i = java.util.Arrays.binarySearch(b, a)
      if (i >= 0) b // already present
      else {
        val p = -i - 1
        val out = new Array[Long](b.length + 1)
        System.arraycopy(b, 0, out, 0, p)
        out(p) = a
        System.arraycopy(b, p, out, p + 1, b.length - p)
        if (out.length > k) out.dropRight(1) else out
      }
    }
    def reduce(b: Array[Long], a: Long): Array[Long] =
      if (b.length < k || a < b.last) insert(b, a) else b
    def merge(x: Array[Long], y: Array[Long]): Array[Long] =
      y.foldLeft(x)(reduce)
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** The k smallest distinct 32-bit hashes of a column (KMV / bottom-k
    * theta-style sketch) via [[KMinValues]]; hash = the engine-portable
    * [[Shuffles.hashKey]]. Driver receives ≤ k longs. */
  def kmvMinima(df: DataFrame, valueCol: String, k: Int,
                salt: String = "kmv"): Array[Long] = {
    import df.sparkSession.implicits._
    // nulls are skipped, as COUNT(DISTINCT) does — a null value hashes
    // to a null hv and would abort the non-nullable typed aggregation
    df.filter(col(valueCol).isNotNull)
      .select(Shuffles.hashKey(col(valueCol), salt).as("hv")).as[Long]
      .select(new KMinValues(k).toColumn).head()
  }

  /** KMV distinct estimate — EXACT when the sketch never filled
    * (estimate = |minima|), else the classic (k−1)·2^32 / h_(k), in
    * INTEGER division so the value is engine-identical. */
  def kmvEstimate(minima: Array[Long], k: Int): Long =
    if (minima.length < k) minima.length
    else (k - 1L) * 4294967296L / minima.last

  /** KMV set estimates over two sketches: the union sketch is the k
    * smallest of the merged minima; the intersection estimate is the
    * standard |K(∪) ∩ A ∩ B| / k share of the union estimate (integer
    * arithmetic throughout). Returns (estUnion, estIntersect). */
  def kmvSetEstimates(a: Array[Long], b: Array[Long], k: Int): (Long, Long) = {
    val union = (a ++ b).distinct.sorted.take(k)
    val estU = kmvEstimate(union, k)
    val sa = a.toSet; val sb = b.toSet
    val matches = union.count(h => sa(h) && sb(h)).toLong
    // unfilled union sketch = the COMPLETE union: matches IS |A ∩ B|
    // (the m/k ratio is only meaningful once the sketch saturates)
    val estI = if (union.length < k) matches else matches * estU / k
    (estU, estI)
  }

  /** Deterministic Count-Min sketch build: d salted md5 hash rows ×
    * w counters. Each input row lands in one slot per hash row; the
    * sketch is the (row, slot) → count table — d·w cells no matter the
    * input size, aggregated with map-side partials (the shuffle carries
    * ≤ d·w rows per partition). Like [[hllCardinality]], every op is
    * integer/string (md5 hex → int), so the sketch is bit-identical in
    * any engine — the differential-gateable twin of a production CMS. */
  def countMinSketch(df: DataFrame, valueCol: String,
                     d: Int = 4, w: Int = 256): DataFrame = {
    df.select(explode(array(cmSlots(col(valueCol), d, w): _*)).as("rs"))
      .groupBy(col("rs")("row").as("row"), col("rs")("slot").as("slot"))
      .agg(count(lit(1)).as("c"))
  }

  /** The d (row, slot) cells a value hashes to (slot = first 2 md5 hex
    * chars of value ∥ "cm<row>", mod w — with the default w = 256 the
    * mod is the identity, which is what the SQL oracle spells). */
  private def cmSlots(v: Column, d: Int, w: Int): Seq[Column] =
    (0 until d).map { i =>
      struct(lit(i.toLong).as("row"),
        (conv(substring(md5(concat(v.cast("string"), lit(s"cm$i"))), 1, 2),
          16, 10).cast("long") % w).as("slot"))
    }

  /** Point-frequency estimates from a built sketch: est(v) = min over
    * hash rows of the value's counter (the CMS guarantee: never an
    * undercount; overcount only on slot collisions). The sketch side is
    * d·w rows — broadcast — so probing any number of keys is one narrow
    * broadcast join, no shuffle of the sketch. */
  def countMinEstimate(sketch: DataFrame, probes: DataFrame,
                       valueCol: String, d: Int = 4, w: Int = 256): DataFrame =
    probes.select(col(valueCol),
        explode(array(cmSlots(col(valueCol), d, w): _*)).as("rs"))
      .select(col(valueCol), col("rs")("row").as("row"),
        col("rs")("slot").as("slot"))
      .join(broadcast(sketch), Seq("row", "slot"), "left")
      .groupBy(col(valueCol))
      .agg(min(coalesce(col("c"), lit(0L))).as("cmEstimate"))

  /** Deterministic HyperLogLog cardinality (m = 64 registers, 32-bit
    * rank window) — the differential-gateable twin of
    * [[approxDistinct]]: bucket and rank come from md5 hex (integer and
    * string ops only), registers are plain MAXes, and the harmonic sum
    * is an EXACT BIGINT (terms 2^(33−M_j), order-independent), so the
    * raw estimate is bit-identical in any engine. At 100 TB this is the
    * cardinality path: registers partial-aggregate map-side, the shuffle
    * is 64 rows, while COUNT(DISTINCT) shuffles every distinct value.
    * No low-range bias correction — callers gate against the exact
    * count anyway (t14), and production use goes through the built-in
    * sketch. Returns one row: (sumInt, hllEstimate). */
  def hllCardinality(df: DataFrame, valueCol: String): DataFrame = {
    val h = md5(col(valueCol).cast("string"))
    // first hex byte mod m (the DuckDB oracle spells the same value with
    // its strpos hexmap chain — DuckDB has no conv)
    val bucket = conv(substring(h, 1, 2), 16, 10).cast("long") % 64
    // rank = 1 + leading zeros of the 32-bit window (hex chars 3..10):
    // 33 − bit-length(w), via the minimal binary string both engines
    // produce (Spark conv / DuckDB bin) — no log2, no float
    val w = conv(substring(h, 3, 8), 16, 10).cast("long")
    val rank = when(w === 0L, lit(33L))
      .otherwise(lit(33L) - length(conv(w.cast("string"), 10, 2)))
    val regs = df.select(bucket.as("bucket"), rank.as("rank"))
      .groupBy(col("bucket")).agg(max(col("rank")).as("M"))
    // absent buckets carry register 0 (term 2^33)
    val terms = df.sparkSession.range(64).select(col("id").as("bucket"))
      .join(regs, Seq("bucket"), "left")
      .select(coalesce(col("M"), lit(0L)).as("M"))
      .select(expr("shiftleft(CAST(1 AS BIGINT), CAST(33 - M AS INT))").as("term"))
    terms.agg(sum(col("term")).as("sumInt"))
      .select(col("sumInt"),
        (lit(0.709) * lit(4096) * lit(8589934592.0) /
          col("sumInt").cast("double")).as("hllEstimate"))
  }
}
