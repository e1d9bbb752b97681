package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Numeric discipline for the differential oracle: each elementwise
  * product is computed in double, rounded to fixed-point 1e-12 and summed
  * as BIGINT (exact, order-independent — see [[graft.functions.expr.FixedPointDot]]),
  * so the total is identical across engines; the final divide/sqrt are
  * correctly-rounded double ops.
  *
  * Scale design: brute-force kNN is the baseline (query-set broadcast ×
  * corpus scan — fine for small query batches); the LSH-bucketed variant
  * hashes every vector to a sign-pattern bucket with one narrow map, so
  * candidate pairs are bucket-local and the all-pairs O(n²) never
  * materializes. On a cluster, bucket the corpus table by `bucket` to
  * make the pair join co-partitioned.
  */
object Vectors {

  /** Exact, order-independent dot product of two float-array columns:
    * each double product is rounded to fixed-point 1e-12 and summed as
    * BIGINT (exact, < 2^53), then scaled back — identical in any engine.
    * (A decimal fold would hit Spark's precision-capping on +.) */
  def dot(a: Column, b: Column): Column = dotExpr(a, b)

  private def dotExpr(a: Column, b: Column): Column =
    graft.functions.expr.FixedPointDot(a, b).cast("double") / lit(1e12)

  /** L2 norm (same decimal-exact discipline). */
  def norm(v: Column): Column = sqrt(dotExpr(v, v))

  /** Cosine between two vector columns. */
  def cosine(a: Column, b: Column): Column = dotExpr(a, b) / (norm(a) * norm(b))

  /** Query-count bound for the kNN paths' broadcast hints (the keyPrune
    * 65536-key precedent): an explicit broadcast() overrides Spark's own
    * size check, so a caller handing a corpus-fraction query set must NOT
    * inherit the small-batch hint — past the bound the join runs plain
    * (shuffle, strategy chosen by Spark) and stays row-identical
    * (pinned in DataOpsSpec via the maxBroadcastQueries knob). */
  val MaxBroadcastQueries: Long = 65536L

  /** The sizing decision: ONE bounded count of the query-side frame
    * (`probe` is the CHEAP frame to count — a filter over the base
    * table). limit(bound+1) keeps the sizing job bounded whatever the
    * slice; the limit argument is clamped below Int.MaxValue so
    * maxRows = Int.MaxValue cannot overflow it. Callers chaining two
    * hinted joins over the same probe (knnClassify) compute this once
    * and reuse the verdict for both hints. */
  private def fitsBroadcast(probe: DataFrame, maxRows: Long): Boolean = {
    val lim = ((maxRows min (Int.MaxValue - 1).toLong) max 0L).toInt + 1
    probe.limit(lim).count() <= maxRows
  }

  private def boundedBroadcast(side: DataFrame, fits: Boolean): DataFrame =
    if (fits) broadcast(side) else side

  /** Brute-force top-k cosine neighbors for a query subset.
    * `emb` must have (vec_id, embedding). The query side broadcasts only
    * below [[MaxBroadcastQueries]] (see there); brute cost is still
    * queries×corpus dots either way — the fallback changes the join from
    * a replicated map-side build to a shuffle, it does not make brute
    * cheap at corpus-fraction query counts (that's the IVF/LSH serve
    * paths' job). */
  def knnBrute(emb: DataFrame, queryPred: Column, k: Int,
               maxBroadcastQueries: Long = MaxBroadcastQueries): DataFrame =
    knnBruteHinted(emb, queryPred, k,
      fitsBroadcast(emb.filter(queryPred), maxBroadcastQueries))

  private def knnBruteHinted(emb: DataFrame, queryPred: Column, k: Int,
                             fits: Boolean): DataFrame = {
    // norms once per vector (not per pair) — the pair loop pays only the dot
    val queries = emb.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"))
    val corpusN = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"),
      norm(col("embedding")).as("nn"))
    val scored = boundedBroadcast(queries, fits)
      .join(corpusN, col("qid") =!= col("nid"))
      .withColumn("cosine", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("cosine"), col("rank"))
  }

  /** k-NN label classification over the embedding column — the
    * curation-classifier eval shape (label a slice by its exact cosine
    * neighbors; DCLM/FineWeb-Edu-style quality routing uses the same
    * vote once labels mean "curated"): majority vote over the
    * [[knnBrute]] top-k, ties broken (votes DESC, label ASC) so the
    * prediction is total and engine-portable. Queries vote among the
    * corpus EXCLUDING themselves (knnBrute's qid ≠ nid contract).
    * Returns (qid, trueLabel, predLabel, votes, correct).
    *
    * Scale shape: the top-k frame is queries×k rows — broadcast it into
    * the corpus-sized label join (never the reverse) when the query
    * count stays under [[MaxBroadcastQueries]]; past the bound the tally
    * join runs plain (a corpus-fraction query set would otherwise OOM
    * the forced build side). The vote itself is a queries×k-bounded
    * aggregate. At index scale the same vote runs on [[ivfPqProbe]]'s
    * (qid, nid, rank) output instead of the brute frame — the serve
    * path swaps in without touching the tally. */
  def knnClassify(emb: DataFrame, queryPred: Column, k: Int,
                  labelCol: String = "label",
                  maxBroadcastQueries: Long = MaxBroadcastQueries): DataFrame = {
    // ONE sizing job for the whole chain — knnBrute's query-side hint and
    // the tally join's topk hint share the same probe, so the verdict is
    // computed once and reused (the guard previously ran twice).
    val fits = fitsBroadcast(emb.filter(queryPred), maxBroadcastQueries)
    knnClassifyHinted(knnBruteHinted(emb, queryPred, k, fits),
      emb, queryPred, labelCol, fits)
  }

  /** The majority vote of [[knnClassify]] over ANY prebuilt (qid, nid)
    * neighbor frame — the serve-path split: hand it [[ivfPqProbe]]'s
    * output and the index classifies at scale with the identical tally
    * (brute is the recall oracle, exactly the sim1-vs-sim10 contract).
    *
    * The prediction is TOTAL over the query set: a query whose `topk`
    * frame carries zero neighbor rows (possible on a served path when
    * every probed cell is empty) surfaces as an ABSTENTION — NULL
    * predLabel/votes, correct = 0 — instead of silently dropping out of
    * accuracy denominators downstream. */
  def knnClassifyFrom(topk: DataFrame, emb: DataFrame, queryPred: Column,
                      labelCol: String = "label",
                      maxBroadcastQueries: Long = MaxBroadcastQueries): DataFrame =
    knnClassifyHinted(topk, emb, queryPred, labelCol,
      fitsBroadcast(emb.filter(queryPred), maxBroadcastQueries))

  private def knnClassifyHinted(topk: DataFrame, emb: DataFrame,
                                queryPred: Column, labelCol: String,
                                fits: Boolean): DataFrame = {
    val labels = emb.select(col("vec_id").as("nid"),
      col(labelCol).cast("long").as("nlabel"))
    val tally = labels
      .join(boundedBroadcast(topk.select(col("qid"), col("nid")), fits), Seq("nid"))
      .groupBy(col("qid"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
    val wv = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("nlabel").asc)
    val pred = tally.withColumn("__rk", row_number().over(wv))
      .filter(col("__rk") === 1)
      .select(col("qid"), col("nlabel").as("predLabel"), col("votes"))
    emb.filter(queryPred)
      .select(col("vec_id").as("qid"), col(labelCol).cast("long").as("trueLabel"))
      .join(pred, Seq("qid"), "left")
      .withColumn("correct",
        when(col("predLabel") === col("trueLabel"), 1L).otherwise(0L))
  }

  /** Deterministic pseudo-random hyperplane component for plane j, dim k:
    * (((j*31 + k*17 + j*k*13) % 101) % 7) - 3 — integers, identical in
    * any engine. The j·k cross term matters: a form linear in j and k
    * collapses mod the small modulus (31 ≡ 17 ≡ 3 mod 7 made plane j
    * depend only on j mod 7 — SEVEN distinct planes in the whole family,
    * so "independent" plane-sets produced identical cuts and band OR-ing
    * gained nothing). With the cross term, planes are distinct for
    * j up to the outer modulus 101. */
  def hyperplane(j: Int, dims: Int): Seq[Double] =
    (0 until dims).map(k => ((((j * 31 + k * 17 + j * k * 13) % 101) % 7) - 3).toDouble)

  /** Sign-LSH bucket id (nPlanes-bit int) for each vector. */
  def withLshBucket(emb: DataFrame, dims: Int, nPlanes: Int = 8): DataFrame = {
    val bucket = (0 until nPlanes).map { j =>
      val h = hyperplane(j, dims)
      // dot(v, h_j) with the same fixed-point-exact expression
      val prods = graft.functions.expr.FixedPointDot(
        col("embedding"), array(h.map(x => lit(x)): _*))
      when(prods >= 0, 1L << j).otherwise(0L)
    }.reduce(_ + _)
    emb.withColumn("bucket", bucket)
  }

  /** Norm of a double-array centroid column — the same fixed-point-exact
    * expression shape as [[norm]], so trained and seed centroids rank
    * identically in any engine. */
  private def centroidNorm(cv: Column): Column =
    sqrt(graft.functions.expr.FixedPointDot(cv, cv).cast("double") / lit(1e12))

  /** Deterministic seed centroids: the first nCells vectors by id, upcast
    * to double (exact) — iteration 0 of [[kmeansCentroids]], and the
    * replayable starting point the differential oracle reproduces. */
  def seedCentroids(emb: DataFrame, nCells: Int): DataFrame =
    emb.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cellId"),
        transform(col("embedding"), x => x.cast("double")).as("cv"))

  /** Lloyd-trained IVF centroids (spherical k-means: assign by cosine,
    * update by mean), seeded deterministically so the whole training run
    * is oracle-replayable. Each iteration is plain DataFrame algebra —
    * assign = crossJoin with the BROADCAST centroid frame + top-1 window,
    * update = posexplode + partial-aggregated fixed-point sums per
    * (cell, dim) — so at 100 TB a round is one linear corpus pass plus a
    * centroid-count-sized shuffle. Empty cells keep their previous
    * centroid. Means are exact: Σ round(x·1e12) as BIGINT, then ONE
    * double division per dim — bit-identical in DuckDB. The bounded
    * (nCells × dims) centroid frame is localCheckpoint-ed per round,
    * cutting the geometric plan growth the same way dupClusters does. */
  def kmeansCentroids(emb: DataFrame, nCells: Int, iters: Int): DataFrame = {
    var cent = seedCentroids(emb, nCells)
    val vecs = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    for (_ <- 0 until iters) {
      val cn = cent.withColumn("cnrm", centroidNorm(col("cv")))
      val assign = vecs.crossJoin(broadcast(cn))
        .withColumn("cellCos",
          dot(col("embedding"), col("cv")) / (col("nrm") * col("cnrm")))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("cellCos").desc, col("cellId"))))
        .filter(col("__rn") === 1)
        .select(col("vec_id"), col("cellId"))
      val sums = assign.join(emb, Seq("vec_id"))
        .select(col("cellId"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("cellId"), col("i"))
        .agg(sum(round(col("x").cast("double") * lit(1e12)).cast("long")).as("sfix"),
          count(lit(1)).as("n"))
      val means = sums
        .withColumn("mval", col("sfix").cast("double") / col("n") / lit(1e12))
        .groupBy(col("cellId"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("mval")))),
          s => s.getField("mval")).as("ncv"))
      cent = cent.join(means, Seq("cellId"), "left")
        .select(col("cellId"), coalesce(col("ncv"), col("cv")).as("cv"))
        .localCheckpoint()
    }
    cent
  }

  /** The spherical-k-means objective for a centroid frame: Σ over the
    * corpus of dot(v, ĉ(v)) — each vector's dot with its assigned cell's
    * UNIT centroid. This is the quantity Lloyd rounds monotonically
    * improve (assignment maximizes each term at fixed centroids; the mean
    * update maximizes each cell's term sum at fixed assignment), so it
    * gates "training worked" independent of whether the fixture has
    * cluster structure — unlike recall@nProbe, which is noise on
    * structureless data. Terms are FLOOR-ed to 1e-6 fixed point before
    * the exact BIGINT sum: floor of an identical double is identical in
    * every engine (no rounding-rule ties, unlike double→decimal casts,
    * which disagreed by 1 ulp between Spark's HALF_UP and DuckDB). */
  def ivfObjective(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val cn = centroids.withColumn("cnrm", centroidNorm(col("cv")))
    val ranked = emb.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(cn))
      .withColumn("cellCos", dot(col("embedding"), col("cv")) /
        (col("nrm") * col("cnrm")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cellCos").desc, col("cellId"))))
      .filter(col("__rn") === 1)
    ranked.agg(
      (sum(floor((dot(col("embedding"), col("cv")) / col("cnrm")) * lit(1e6))
        .cast("long")).cast("double") / lit(1e6)).as("objective"))
  }

  /** Cell assignment against an explicit (cellId, cv) centroid frame. */
  def withIvfCell(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val cn = centroids.withColumn("cnrm", centroidNorm(col("cv")))
    val scored = emb.crossJoin(broadcast(cn))
      .withColumn("cellCos", dot(col("embedding"), col("cv")) /
        (norm(col("embedding")) * col("cnrm")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cellCos").desc, col("cellId"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cellId"))
  }

  /** IVF cell assignment with the deterministic seed quantizer (kept for
    * the untrained baseline; train with [[kmeansCentroids]] for real
    * corpora). */
  def withIvfCell(emb: DataFrame, nCells: Int): DataFrame =
    withIvfCell(emb, seedCentroids(emb, nCells))

  /** Shared IVF scoring tail: probe rows (qid, qv, qn, cellId) × celled
    * corpus → exact-cosine top-k per query. */
  private def scoreCells(probes: DataFrame, celled: DataFrame, k: Int): DataFrame = {
    val candidates = probes.join(celled, Seq("cellId"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cosine", dot(col("qv"), col("embedding")) /
        (col("qn") * norm(col("embedding"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    candidates.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("nid"), col("cellId"), col("cosine"), col("rank"))
  }

  /** IVF search: top-k neighbors for `queryPred` vectors probing the
    * query's own cell plus the next (nProbe-1) best cells. `iters` > 0
    * trains the coarse quantizer with that many Lloyd rounds first
    * (iters = 0 keeps the deterministic seed quantizer). The cell column
    * is the partition/bucket key at cluster scale: a probe touches
    * nProbe/nCells of the corpus instead of all of it. */
  def ivfSearch(emb: DataFrame, nCells: Int, nProbe: Int,
                queryPred: Column, k: Int, iters: Int = 0): DataFrame = {
    val centroids =
      if (iters > 0) kmeansCentroids(emb, nCells, iters)
      else seedCentroids(emb, nCells)
    val cn = centroids.withColumn("cnrm", centroidNorm(col("cv")))
    val vecs = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    // ONE assignment ranking drives both the corpus cells (rn = 1) and the
    // per-query probe lists (rn <= nProbe) — the centroid frame is
    // broadcast, so this is a single linear corpus pass
    val ranked = vecs.crossJoin(broadcast(cn))
      .withColumn("cellCos", dot(col("embedding"), col("cv")) /
        (col("nrm") * col("cnrm")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cellCos").desc, col("cellId"))))
    val celled = ranked.filter(col("__rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cellId"))
    val probes = ranked.filter(queryPred && col("__rn") <= nProbe)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("cellId"))
    scoreCells(probes, celled, k)
  }

  /** ANN near-duplicate pairs: same LSH bucket, cosine above threshold.
    * Norms are computed once per vector; the bucket join is the only
    * shuffle, and both self-join sides shuffle the SAME bucketed subtree
    * so ReuseExchange scans/hashes the corpus once — no cache, lazy plan.
    *
    * Sizing `nPlanes` at scale: each bucket holds ~n/2^nPlanes vectors and
    * the within-bucket pair join is quadratic in bucket size, so pick
    * nPlanes ≈ log2(n / 10^4) (buckets ≳ n/10⁴) — e.g. 8 planes up to
    * ~2.5M vectors, 17 planes at 1B. More planes trade recall for speed;
    * compensate with band OR-ing (run r plane-sets and union pairs) the
    * same way [[Dedup.lshCandidates]] bands minhashes. On a cluster,
    * bucket the corpus table by `bucket` to co-partition the join. */
  def annPairs(emb: DataFrame, dims: Int, minCosine: Double,
               nPlanes: Int = 8): DataFrame = {
    val b = withLshBucket(emb, dims, nPlanes)
      .select(col("vec_id"), col("embedding"), col("bucket"),
        norm(col("embedding")).as("nrm"))
    val left = b.select(col("vec_id").as("id1"), col("embedding").as("v1"),
      col("bucket"), col("nrm").as("n1"))
    val right = b.select(col("vec_id").as("id2"), col("embedding").as("v2"),
      col("bucket"), col("nrm").as("n2"))
    // shuffled (not broadcast) so the scan+norm+bucket subtree is computed
    // once via ReuseExchange — see the note in Dedup.lshCandidates
    left.hint("shuffle_hash").join(right.hint("shuffle_hash"), Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .withColumn("cosine", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cosine") >= minCosine)
      .select(col("bucket"), col("id1"), col("id2"), col("cosine"))
  }

  /** Multi-probe (band-OR) sign-LSH near-duplicate pairs: `r` independent
    * plane-sets (set t uses hyperplanes t·nPlanes … t·nPlanes+nPlanes−1),
    * candidate pairs are the UNION over sets of bucket-local pairs — the
    * recall dial [[Dedup.withBands]] gives minhash LSH, applied to the
    * embedding index. With r sets a true near-dup pair is missed only if
    * it splits in EVERY set, so recall rises as 1−(1−p)^r per pair while
    * cost stays r × the single-set bucket join.
    *
    * Same narrow-pair shape as [[Dedup.lshCandidates]]: only
    * (vec_id, setIdx, bucket) flows through the bucket join and the pair
    * `distinct()`; full vectors join back AFTER the dedup for the exact
    * cosine filter. r=1 reproduces [[annPairs]]' pair set exactly.
    * `maxBucket` is the same skew valve as [[Dedup.lshCandidates]]': a
    * degenerate bucket (e.g. a spike of identical embeddings) is dropped
    * before the quadratic pair join; default = no cap. */
  def annPairsMulti(emb: DataFrame, dims: Int, minCosine: Double,
                    nPlanes: Int = 8, r: Int = 2,
                    maxBucket: Int = Int.MaxValue): DataFrame = {
    val bucketCols = (0 until r).map { t =>
      (0 until nPlanes).map { j =>
        val h = hyperplane(t * nPlanes + j, dims)
        val prods = graft.functions.expr.FixedPointDot(
          col("embedding"), array(h.map(x => lit(x)): _*))
        when(prods >= 0, 1L << j).otherwise(0L)
      }.reduce(_ + _)
    }
    val melted = Dedup.capBuckets(emb.select(col("vec_id"),
      posexplode(array(bucketCols: _*)).as(Seq("setIdx", "bucket"))),
      Seq("setIdx", "bucket"), maxBucket)
    val left = melted.select(col("vec_id").as("id1"), col("setIdx"), col("bucket"))
    val right = melted.select(col("vec_id").as("id2"), col("setIdx"), col("bucket"))
    // shuffled so ReuseExchange computes the r-bucket melt once — see the
    // note in Dedup.lshCandidates
    val pairs = left.hint("shuffle_hash")
      .join(right.hint("shuffle_hash"), Seq("setIdx", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()
    val v = emb.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val vL = v.select(col("vec_id").as("id1"), col("embedding").as("v1"), col("nrm").as("n1"))
    val vR = v.select(col("vec_id").as("id2"), col("embedding").as("v2"), col("nrm").as("n2"))
    pairs.join(vL, Seq("id1")).join(vR, Seq("id2"))
      .withColumn("cosine", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cosine") >= minCosine)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** Exact all-pairs cosine-threshold ground truth — O(n²), the
    * gate/test-scale baseline the LSH pair recall is measured against
    * (never the 100 TB path; annPairsMulti is). */
  def bruteCosinePairs(emb: DataFrame, minCosine: Double): DataFrame = {
    val v = emb.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val a = v.select(col("vec_id").as("id1"), col("embedding").as("v1"), col("nrm").as("n1"))
    val b = v.select(col("vec_id").as("id2"), col("embedding").as("v2"), col("nrm").as("n2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cosine", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cosine") >= minCosine)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): Lloyd a
    * coarse k-means over the embeddings, then prune WITHIN each cluster —
    * a vector is dropped when any smaller-id vector in its cell sits at
    * cosine ≥ `minCosine` (earlier-id-wins, the same deterministic keep
    * rule the exact/LSH dedup family uses; `dupOf` is the smallest such
    * id). Returns one row per vector: (vec_id, cellId, keep, dupOf).
    *
    * Scale shape: the pair candidates are CELL-LOCAL — the all-pairs
    * O(n²) never materializes, and sizing nCells ≈ n / targetCellSize
    * bounds the quadratic term per cell exactly like the paper's
    * pre-clustering does. Both sides of the self-join shuffle the SAME
    * celled subtree (shuffle_hash, so ReuseExchange assigns cells once);
    * at cluster scale, write the celled table bucketed by cellId and the
    * join is co-partitioned. Training cost is [[kmeansCentroids]]' —
    * one linear corpus pass per round against a broadcast centroid
    * frame. */
  def semDedup(emb: DataFrame, nCells: Int, iters: Int,
               minCosine: Double): DataFrame = {
    val cent =
      if (iters > 0) kmeansCentroids(emb, nCells, iters)
      else seedCentroids(emb, nCells)
    val celled = withIvfCell(emb, cent)
      .withColumn("nrm", norm(col("embedding")))
    val a = celled.select(col("cellId"), col("vec_id").as("aId"),
      col("embedding").as("av"), col("nrm").as("an"))
    val b = celled.select(col("cellId"), col("vec_id").as("bId"),
      col("embedding").as("bv"), col("nrm").as("bn"))
    val dups = a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("cellId"))
      .filter(col("aId") < col("bId"))
      .withColumn("cosine", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(col("cosine") >= minCosine)
      .groupBy(col("bId")).agg(min(col("aId")).as("dupOf"))
    celled.join(dups, col("vec_id") === col("bId"), "left")
      .select(col("vec_id"), col("cellId"),
        col("dupOf").isNull.as("keep"), col("dupOf"))
  }

  // ---- Product quantization (PQ) --------------------------------------

  /** Fixed-point squared-L2 distance between two vector columns (BIGINT,
    * scale 1e12 — exact and engine-independent, see FixedPointL2). */
  def l2sq(a: Column, b: Column): Column = graft.functions.expr.FixedPointL2(a, b)

  /** Deterministic PQ codebook: the first `kCode` vectors (by vec_id,
    * after skipping `skip`) donate their subvectors as centroids — one
    * row per (subspace j, centroid c), cv = the dsub-dim slice. kCode·m
    * rows total, always broadcast. This is the replayable SEED:
    * [[pqCodebookTrained]] runs Lloyd rounds on top of it; everything
    * downstream is codebook-agnostic. `skip` matters for RESIDUAL input
    * ([[ivfPqSearch]]): the first nCells vectors are the coarse-centroid
    * donors whose residuals are all-zero, and a codebook seeded from
    * zero vectors is degenerate (every code identical) — skipping them
    * seeds from the first vectors with real residual spread. */
  def pqCodebook(emb: DataFrame, m: Int, dsub: Int, kCode: Int,
                 skip: Int = 0): DataFrame = {
    // kCode rows — the single-partition window ranks a bounded frame
    val w = Window.orderBy(col("vec_id"))
    emb.orderBy(col("vec_id")).offset(skip).limit(kCode)
      .withColumn("c", (row_number().over(w) - 1).cast("long"))
      .select(col("c"), explode(sequence(lit(0L), lit(m - 1L))).as("j"), col("embedding"))
      .select(col("j"), col("c"),
        slice(col("embedding"), col("j").cast("int") * dsub + 1, lit(dsub)).as("cv"))
  }

  /** Lloyd-trained PQ codebook: per-subspace k-means under the exact
    * fixed-point L2² metric, seeded by [[pqCodebook]]'s deterministic
    * first-kCode subvectors so the whole run is oracle-replayable.
    * Assign = the same crossJoin+min_by shape as [[pqCodes]]; update =
    * fixed-point-exact subvector means per (subspace, code). All m
    * subspaces train in the SAME linear corpus pass per round (the
    * codebook frame carries every (j, c)), and the m·kCode·dsub centroid
    * frame is localCheckpoint-ed per round to cut plan growth. Empty
    * codes keep their previous centroid. */
  def pqCodebookTrained(emb: DataFrame, m: Int, dsub: Int, kCode: Int,
                        iters: Int, skip: Int = 0): DataFrame = {
    var cb = pqCodebook(emb, m, dsub, kCode, skip)
      .select(col("j"), col("c"),
        transform(col("cv"), x => x.cast("double")).as("cv"))
    for (_ <- 0 until iters) {
      val assign = emb.crossJoin(broadcast(cb))
        .withColumn("d2", l2sq(
          slice(col("embedding"), col("j").cast("int") * dsub + 1, lit(dsub)), col("cv")))
        .groupBy(col("vec_id"), col("j"))
        .agg(min_by(col("c"), struct(col("d2"), col("c"))).as("c"))
      val sums = assign.join(emb, Seq("vec_id"))
        .select(col("j"), col("c"),
          posexplode(slice(col("embedding"), col("j").cast("int") * dsub + 1, lit(dsub)))
            .as(Seq("i", "x")))
        .groupBy(col("j"), col("c"), col("i"))
        .agg(sum(round(col("x").cast("double") * lit(1e12)).cast("long")).as("sfix"),
          count(lit(1)).as("n"))
      val means = sums
        .withColumn("mval", col("sfix").cast("double") / col("n") / lit(1e12))
        .groupBy(col("j"), col("c"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("mval")))),
          s => s.getField("mval")).as("ncv"))
      cb = cb.join(means, Seq("j", "c"), "left")
        .select(col("j"), col("c"), coalesce(col("ncv"), col("cv")).as("cv"))
        .localCheckpoint()
    }
    cb
  }

  /** PQ code assignment: every vector × broadcast codebook, nearest
    * centroid per subspace by exact fixed-point L2² (ties → lower c).
    * Works with either the seed codebook or [[pqCodebookTrained]]'s.
    * The cross join fans each row out m·kCode ways INSIDE its task and
    * min_by's map-side partials collapse it back to m rows before the
    * one skinny shuffle on (vec_id, j) — at 100 TB the codes build is a
    * single linear pass over the corpus. Output: (vec_id, j, code). */
  def pqCodes(emb: DataFrame, codebook: DataFrame, dsub: Int): DataFrame =
    emb.crossJoin(broadcast(codebook))
      .withColumn("d2",
        l2sq(slice(col("embedding"), col("j").cast("int") * dsub + 1, lit(dsub)), col("cv")))
      .groupBy(col("vec_id"), col("j"))
      .agg(min_by(col("c"), struct(col("d2"), col("c"))).as("code"))

  /** PQ asymmetric-distance (ADC) top-k search: queries keep their full
    * vectors, the corpus is represented only by its codes. Per query the
    * distance table lut(qid, j, c) = L2²(query subvector, centroid) is
    * tiny (nq·m·kCode rows) and broadcast; the search is then ONE scan of
    * the codes table — join on (j, code), partial-aggregated SUM per
    * (qid, vec_id) — no full-vector math against the corpus at all.
    * This is the 100 TB path: 8 bytes of code replace 256 bytes of
    * floats, and scan cost is independent of dimensionality. Distances
    * are exact BIGINTs end-to-end (sum of fixed-point subspace terms),
    * so ranking is engine-independent. */
  def pqAdcSearch(emb: DataFrame, m: Int, dsub: Int, kCode: Int,
                  queryPred: Column, k: Int, iters: Int = 0): DataFrame = {
    val cb =
      if (iters > 0) pqCodebookTrained(emb, m, dsub, kCode, iters)
      else pqCodebook(emb, m, dsub, kCode)
    val codes = pqCodes(emb, cb, dsub)
    pqAdcProbe(codes, cb, emb.filter(queryPred), dsub, k)
  }

  /** PQ-ADC probe against a PREBUILT codes table — the production shape:
    * codebook trained and codes assigned ONCE (m one-byte codes replace
    * the float vector), stored, then served to many probe batches. The
    * per-batch distance table is tiny (nq·m·kCode rows) and broadcast,
    * so a probe is ONE linear scan of the codes table with
    * partial-aggregated SUM — cost independent of dimensionality and of
    * how many batches came before. `queries` has (vec_id, embedding).
    * [[pqAdcSearch]] is this probe over freshly built codes. */
  def pqAdcProbe(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
                 dsub: Int, k: Int): DataFrame = {
    val lut = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(broadcast(codebook))
      .select(col("qid"), col("j"), col("c"),
        l2sq(slice(col("qv"), col("j").cast("int") * dsub + 1, lit(dsub)), col("cv")).as("qd2"))
    val scored = codes
      .join(broadcast(lut), codes("j") === lut("j") && col("code") === lut("c"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("qd2")).as("adcDist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adcDist").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("nid"), col("adcDist"), col("rank"))
  }

  /** Exact top-k by full-vector fixed-point L2² for a query subset — the
    * ground truth the PQ recall gate measures against. */
  def l2BruteTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val queries = emb.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    broadcast(queries).join(corpus, col("qid") =!= col("nid"))
      .withColumn("d2", l2sq(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("d2"), col("rank"))
  }

  /** recall@k of the PQ-ADC index vs the exact L2 ground truth — the
    * accept dial every approximate index ships with (same contract as
    * the IVF gate, sim4). */
  def pqRecall(emb: DataFrame, m: Int, dsub: Int, kCode: Int,
               queryPred: Column, k: Int, iters: Int = 0): DataFrame = {
    val approx = pqAdcSearch(emb, m, dsub, kCode, queryPred, k, iters)
      .select(col("qid"), col("nid"))
    val exact = l2BruteTopK(emb, queryPred, k).select(col("qid"), col("nid"))
    // denominator = the exact rows actually present per query (count(*)
    // over the left side), not lit(k): with fewer than k other vectors the
    // ground truth has < k rows and a perfect index must still score 1.0
    exact.join(approx.withColumn("hit", lit(1)), Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("hit")).as("hits"),
        (count(col("hit")).cast("double") / count(lit(1))).as("recall"))
  }

  // ---- IVF-PQ (residual) index ----------------------------------------

  /** Residual frame of an IVF-celled corpus: each vector minus its cell's
    * centroid, element type double (ONE IEEE subtraction per element —
    * identical in any engine). Output (vec_id, cellId, embedding) where
    * `embedding` IS the residual, so the whole PQ toolchain
    * ([[pqCodebook]] / [[pqCodebookTrained]] / [[pqCodes]]) runs on it
    * unchanged. Quantizing residuals instead of raw vectors is what makes
    * the coarse and fine quantizers compose: the PQ codebook only has to
    * cover the within-cell spread, not the whole space. */
  def ivfResiduals(emb: DataFrame, centroids: DataFrame): DataFrame =
    withIvfCell(emb, centroids)
      .join(broadcast(centroids), Seq("cellId"))
      .select(col("vec_id"), col("cellId"),
        zip_with(col("embedding"), col("cv"), (x, c) => x.cast("double") - c)
          .as("embedding"))

  /** IVF-PQ ADC probe against a PREBUILT index — the composed production
    * shape (FAISS-style IVFADC): the corpus is `codes`
    * (vec_id, cellId, j, code) = PQ codes of the cell RESIDUALS, plus the
    * broadcast-sized `codebook` (residual subspace centroids) and coarse
    * `centroids`. Per query: rank cells by exact cosine against the
    * broadcast centroid frame, keep `nProbe`; compute the query's
    * residual AGAINST EACH PROBED CELL (ADC tables must live in the same
    * residual frame as the codes they score); build the
    * nq·nProbe·m·kCode-row LUT and broadcast it; then ONE scan of the
    * codes table joined on (cellId, j, code) with a partial-aggregated
    * SUM. Distances are exact BIGINTs end-to-end. At scale, store the
    * codes table partitioned/bucketed by cellId so a probe touches only
    * the probed cells' buckets — cost scales with nProbe/nCells of the
    * corpus, times m bytes per vector instead of 4·dims. */
  def ivfPqProbe(codes: DataFrame, codebook: DataFrame, centroids: DataFrame,
                 queries: DataFrame, dsub: Int, nProbe: Int, k: Int): DataFrame = {
    val cn = centroids.withColumn("cnrm", centroidNorm(col("cv")))
    val probes = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"))
      .crossJoin(broadcast(cn))
      .withColumn("cellCos", dot(col("qv"), col("cv")) / (col("qn") * col("cnrm")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cellCos").desc, col("cellId"))))
      .filter(col("__rn") <= nProbe)
      .select(col("qid"), col("cellId"),
        zip_with(col("qv"), col("cv"), (x, c) => x.cast("double") - c).as("qrv"))
    val lut = probes.crossJoin(broadcast(codebook))
      .select(col("qid"), col("cellId").as("pcell"), col("j").as("pj"),
        col("c").as("pc"),
        l2sq(slice(col("qrv"), col("j").cast("int") * dsub + 1, lit(dsub)),
          col("cv")).as("qd2"))
    val scored = codes
      .join(broadcast(lut), col("cellId") === col("pcell") &&
        col("j") === col("pj") && col("code") === col("pc"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("qd2")).as("adcDist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adcDist").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("nid"), col("adcDist"), col("rank"))
  }

  /** One-shot IVF-PQ search: train/seed the coarse quantizer, quantize
    * the cell residuals, probe. `iters` trains the coarse k-means,
    * `pqIters` the residual codebook (0 = deterministic seeds — the
    * oracle-replayable baseline). [[ivfPqProbe]] is the serve path over a
    * prebuilt index; this composes the build inline for the differential
    * gate.
    *
    * `corpusPred` restricts which vectors train AND populate the index —
    * the INCREMENTAL-ingest split: the standing corpus is indexed once,
    * a new batch (queryPred, disjoint) only probes, O(batch) work against
    * the standing structure, exactly like [[Dedup.incrementalExact]]'s
    * additive shape. Default = the whole frame (self-search). */
  def ivfPqSearch(emb: DataFrame, nCells: Int, nProbe: Int, queryPred: Column,
                  k: Int, m: Int, dsub: Int, kCode: Int,
                  iters: Int = 0, pqIters: Int = 0,
                  corpusPred: Column = lit(true)): DataFrame = {
    val corpus = emb.filter(corpusPred)
    val cent =
      if (iters > 0) kmeansCentroids(corpus, nCells, iters)
      else seedCentroids(corpus, nCells)
    val resid = ivfResiduals(corpus, cent)
    val residEmb = resid.select(col("vec_id"), col("embedding"))
    // seed the residual codebook PAST the coarse donors (see pqCodebook)
    val cb =
      if (pqIters > 0) pqCodebookTrained(residEmb, m, dsub, kCode, pqIters, skip = nCells)
      else pqCodebook(residEmb, m, dsub, kCode, skip = nCells)
    val codes = pqCodes(residEmb, cb, dsub)
      .join(resid.select(col("vec_id"), col("cellId")), Seq("vec_id"))
    ivfPqProbe(codes, cb, cent, emb.filter(queryPred), dsub, nProbe, k)
  }

  /** recall@k of the IVF-PQ index vs the exact full-vector L2 truth —
    * the same accept dial as [[pqRecall]], now over the composed index
    * (coarse pruning AND residual quantization both cost recall; this
    * measures the two together). */
  def ivfPqRecall(emb: DataFrame, nCells: Int, nProbe: Int, queryPred: Column,
                  k: Int, m: Int, dsub: Int, kCode: Int,
                  iters: Int = 0, pqIters: Int = 0): DataFrame = {
    val approx = ivfPqSearch(emb, nCells, nProbe, queryPred, k, m, dsub, kCode,
        iters, pqIters)
      .select(col("qid"), col("nid"))
    val exact = l2BruteTopK(emb, queryPred, k).select(col("qid"), col("nid"))
    exact.join(approx.withColumn("hit", lit(1)), Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("hit")).as("hits"),
        (count(col("hit")).cast("double") / count(lit(1))).as("recall"))
  }

  // ---- Johnson-Lindenstrauss random projection -------------------------

  /** Deterministic ±1 JL sign for (input dim i, output dim j): the parity
    * of the FIRST hex digit of md5("jl-i-j") — the repo's cross-engine
    * hash recipe, so any engine (or a restarted job) regenerates the
    * identical matrix with no stored state. */
  def jlSign(i: Int, j: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"jl-$i-$j".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0xF) % 2 == 0) 1L else -1L
  }

  /** Dense JL/Achlioptas ±1 random projection of `embedding`
    * (inDims doubles) to outDims, in EXACT integer arithmetic:
    * components scale to 1e6 fixed-point longs (the FixedPointDot
    * rounding recipe) and each output dim is a ± sum — no multiply, no
    * float accumulation order, bit-identical at any parallelism. Emits
    * the reduced vector as melt rows (vec_id, j, rv); cosine over rv is
    * scale-invariant, so the fixed-point factor (and the 1/√outDims JL
    * constant) never needs dividing out.
    *
    * Scale shape: the sign matrix is inDims×outDims rows — broadcast;
    * the corpus pays one narrow melt and one (vec_id, j) aggregate.
    * This is the cheap front-end that makes downstream ANN 4× narrower
    * before any index (LSH/IVF/PQ) sees the vectors. */
  def jlProject(emb: DataFrame, inDims: Int, outDims: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val signs = (0 until inDims)
      .flatMap(i => (0 until outDims).map(j => (i, j, jlSign(i, j))))
      .toDF("i", "j", "s")
    emb
      // a wrong inDims must fail on ITS row, not silently project a
      // prefix (extra dims would just miss the sign join) — the
      // rangeJoin raise_error-in-branch convention
      .select(col("vec_id"),
        when(size(col("embedding")) === inDims, col("embedding"))
          .otherwise(raise_error(concat(
            lit(s"jlProject: expected $inDims dims, got "),
            size(col("embedding")).cast("string"),
            lit(" for vec_id "), col("vec_id").cast("string"))))
          .as("embedding"))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "__x")))
      .withColumn("__xs", round(col("__x").cast("double") * 1e6).cast("long"))
      .join(broadcast(signs), Seq("i"))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("__xs") * col("s")).as("rv"))
  }

  /** Neighbor-preservation gate for [[jlProject]]: each probe's top-1
    * cosine neighbor in the REDUCED space vs the exact full-space top-1
    * ([[knnBrute]]) — the accept dial for trading 4× narrower vectors
    * against retrieval fidelity, like [[pqRecall]] for PQ. Emits
    * (qid, fullNn, fullCosine, redNn, redCosine, matched). */
  def jlTop1Recall(emb: DataFrame, queryPred: Column, inDims: Int,
                   outDims: Int): DataFrame = {
    // the reduced table feeds three consumers (probe side, corpus side,
    // norms) — narrow (3 longs/vector-dim) and the table a production
    // run would have materialized, so pinned once (the t27 convention)
    val red = jlProject(emb, inDims, outDims).localCheckpoint()
    val norms = red.groupBy(col("vec_id"))
      .agg(sum(col("rv") * col("rv")).as("__n2"))
    val probes = red.filter(queryPred)
      .select(col("vec_id").as("qid"), col("j"), col("rv").as("__qrv"))
    val dots = broadcast(probes)
      .join(red.select(col("vec_id").as("nid"), col("j"),
        col("rv").as("__nrv")), Seq("j"))
      .filter(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("__qrv") * col("__nrv")).as("__dot"))
    val cos = dots
      .join(broadcast(norms.select(col("vec_id").as("qid"),
        col("__n2").as("__nq"))), Seq("qid"))
      .join(norms.select(col("vec_id").as("nid"), col("__n2").as("__nn")),
        Seq("nid"))
      .withColumn("redCosine", col("__dot").cast("double") /
        (sqrt(col("__nq").cast("double")) * sqrt(col("__nn").cast("double"))))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("redCosine").desc, col("nid"))
    val redTop = cos.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("qid"), col("nid").as("redNn"), col("redCosine"))
    knnBrute(emb, queryPred, k = 1)
      .select(col("qid"), col("nid").as("fullNn"),
        col("cosine").as("fullCosine"))
      .join(redTop, Seq("qid"))
      .withColumn("matched", col("fullNn") === col("redNn"))
  }
}
