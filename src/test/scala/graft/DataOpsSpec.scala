package graft

import org.apache.spark.sql.functions._

import graft.functions.{Dedup, TextFunctions, Vectors}
import graft.multimodal.Multimodal

class DataOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different words entirely here now friends"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
  ).toDF("doc_id", "text")

  test("BPE training: greedy-left merges, deterministic ties, early stop") {
    import graft.functions.TextFunctions
    def chars(w: String) = w.mkString(" ")
    val corpus = Seq("low", "low", "lower", "lowest").map(w => Tuple1(chars(w)))
      .toDF("syms")
    val (merges, fin) = TextFunctions.bpeTrain(corpus, "syms", k = 3)
    // (l,o) and (o,w) tie at 4 → (l,o) wins by pair order; then (lo,w);
    // then (low,e) at 2
    assert(merges == Seq(("l", "o", 4L), ("lo", "w", 4L), ("low", "e", 2L)))
    val out = rows(fin.orderBy(col("syms"))).map(_.head)
    assert(out == Seq("low", "low", "lowe r", "lowe s t"))
    // greedy-left overlap: (a,a) in "aaa" fuses the first pair only
    val aaa = Seq(Tuple1("a a a"), Tuple1("a a")).toDF("syms")
    val (m2, f2) = TextFunctions.bpeTrain(aaa, "syms", k = 1)
    assert(m2 == Seq(("a", "a", 3L)))
    assert(rows(f2.orderBy(col("syms"))).map(_.head) == Seq("aa", "aa a"))
    // CONSECUTIVE occurrences must all fuse (a string replace over the
    // space-joined form consumes the shared delimiter and skips every
    // second one — "banana" kept its second "an"): greedy-left fold
    val banana = Seq(Tuple1("b a n a n a"), Tuple1("a b a b")).toDF("syms")
    val an = rows(TextFunctions.bpeApplyMerge(banana, "syms", "a", "n")
      .orderBy(col("syms"))).map(_.head)
    assert(an == Seq("a b a b", "b an an a"), s"got $an")
    val ab = rows(TextFunctions.bpeApplyMerge(banana, "syms", "a", "b")
      .orderBy(col("syms"))).map(_.head)
    assert(ab == Seq("ab ab", "b a n a n a"), s"got $ab")
    // early stop: nothing repeats → no merge even with k budget left
    val uniq = Seq(Tuple1("x y"), Tuple1("p q")).toDF("syms")
    assert(TextFunctions.bpeTrain(uniq, "syms", k = 5)._1.isEmpty)
  }

  test("BPE encode: replaying trained merges reproduces the trainer's corpus; chunking is invisible") {
    import graft.functions.TextFunctions
    def chars(w: String) = w.mkString(" ")
    // hand-computed fixture: merges (a,n) then (an,a) on banana/abab —
    // greedy-left both rounds, the second consuming the first's output
    val fix = Seq("banana", "abab", "nananana").map(w => Tuple1(chars(w))).toDF("syms")
    val enc = rows(TextFunctions.bpeEncode(fix, "syms",
      Seq("a" -> "n", "an" -> "a")).orderBy(col("syms"))).map(_.head)
    // banana: (a,n) → "b an an a", then (an,a) fuses only the SECOND an
    // (greedy-left: the first an's right neighbour is an, not a);
    // abab: untouched; nananana: (a,n) → "n an an an a" → "n an an ana"
    assert(enc == Seq("a b a b", "b an ana", "n an an ana"), s"got $enc")
    // law: encoding the TRAINING corpus with its own rank-ordered merge
    // list lands exactly on the trainer's final corpus — train and
    // encode share one greedy-left fold, applied in the same order
    val corpus = Seq("low", "low", "lower", "lowest", "newest", "newest")
      .map(w => Tuple1(chars(w))).toDF("syms")
    val (merges, trained) = TextFunctions.bpeTrain(corpus, "syms", k = 5)
    assert(merges.nonEmpty)
    val replayed = TextFunctions.bpeEncode(corpus, "syms", merges.map(m => (m._1, m._2)))
    assert(rows(replayed.orderBy(col("syms"))) == rows(trained.orderBy(col("syms"))))
    // chunk boundaries must not change the result (checkpointed chunks
    // vs one fused projection)
    val oneChunk = TextFunctions.bpeEncode(fix, "syms",
      Seq("a" -> "n", "an" -> "a", "b" -> "ana"), chunkSize = 16)
    val tinyChunks = TextFunctions.bpeEncode(fix, "syms",
      Seq("a" -> "n", "an" -> "a", "b" -> "ana"), chunkSize = 1)
    assert(rows(oneChunk.orderBy(col("syms"))) == rows(tinyChunks.orderBy(col("syms"))))
    // true per-doc token counts under the trained tokenizer: "banana
    // split" = [b, an, ana] + [s,p,l,i,t] = 8; "nananana" = 4
    val d = Seq((1L, "banana split"), (2L, "nananana")).toDF("doc_id", "text")
    val counts = TextFunctions.bpeTokenCounts(d, "doc_id", "text",
      Seq("a" -> "n", "an" -> "a")).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(counts == Seq((1L, 8L), (2L, 4L)), s"got $counts")
  }

  test("sketch laws on seeded random data: CMS never undercounts, KMV lands close") {
    import graft.functions.Sketches
    val rnd = new scala.util.Random(11)
    // zipf-ish: key k appears ~ 400/k times
    val vals = (1 to 40).flatMap(k => Seq.fill(400 / k)(s"key$k"))
      .map(Tuple1(_))
    val df = vals.toDF("v")
    val exact = vals.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val sk = Sketches.countMinSketch(df, "v")
    val probes = exact.keys.map(Tuple1(_)).toSeq.toDF("v")
    val est = rows(Sketches.countMinEstimate(sk, probes, "v"))
      .map(r => r.head.asInstanceOf[String] -> r.last.asInstanceOf[Long]).toMap
    exact.foreach { case (k, n) =>
      assert(est(k) >= n, s"CMS undercounted $k: ${est(k)} < $n")
    }
    // KMV on 200 random distinct values, k = 64: within ±35%
    val kvals = (1 to 200).map(_ => rnd.nextLong()).distinct
    val kdf = kvals.map(Tuple1(_)).toDF("v")
    val kmvEst = Sketches.kmvEstimate(Sketches.kmvMinima(kdf, "v", 64), 64)
    assert(kmvEst > kvals.size * 0.65 && kmvEst < kvals.size * 1.35,
      s"KMV estimate $kmvEst far from ${kvals.size}")
  }

  test("TableChecks: null FK keys excluded, dup keys surfaced, gate verdict") {
    import graft.analytics.TableChecks
    val parent = Seq(1L, 2L, 2L, 3L).map(Tuple1(_)).toDF("pk")
    val child = Seq[(Long, java.lang.Long)](
      (10L, 1L), (11L, 9L), (12L, null), (13L, 3L)).toDF("id", "fk")
    // null child keys are NOT orphans (SQL FK semantics); 9 is
    val orph = rows(TableChecks.fkOrphans(child, parent, "fk", "pk")
      .select(col("id")))
    assert(orph == Seq(Seq(11L)))
    val dups = rows(TableChecks.duplicateKeys(parent, Seq("pk"))
      .select(col("pk"), col("multiplicity")))
    assert(dups == Seq(Seq(2L, 2L)))
    val g = rows(TableChecks.gate(child, parent, "fk", "pk",
      Seq("pk"), "fk")).head
    // dup rows 2, one orphan, one null → fail
    assert(g == Seq(2L, 1L, 1L, false))
    val profile = rows(TableChecks.profile(child, Seq("fk"))).head
    assert(profile == Seq("fk", 4L, 1L, 3L, "1", "9"))
  }

  test("TableChecks: an empty child delivery yields a verdict, not NULL") {
    import graft.analytics.TableChecks
    val parent = Seq(1L).map(Tuple1(_)).toDF("pk")
    val empty = Seq.empty[(Long, Long)].toDF("id", "fk")
    val g = rows(TableChecks.gate(empty, parent, "fk", "pk", Seq("pk"), "fk")).head
    assert(g == Seq(0L, 0L, 0L, true), s"empty delivery must PASS: $g")
    assert(rows(TableChecks.profile(empty, Seq("fk"))).head(2) == 0L)
  }

  test("distributionDrift: clamped bins, integer ppm, TVD verdict both ways") {
    import graft.analytics.TableChecks
    val a = Seq[java.lang.Long](5L, 15L, 15L, 25L, null).toDF("v")
    // 95 clamps to the last bin, -7 to bin 0
    val b = Seq(5L, 35L, 95L, -7L).toDF("v")
    val out = rows(TableChecks.distributionDrift(a, b, "v",
      binWidth = 10L, maxBins = 4, thresholdPpm = 100000L)
      .orderBy(col("bin")))
    // cA = {0:1, 1:2, 2:1}, cB = {0:2, 3:2}, totals 4 and 4 →
    // diffs 250k/500k/250k/500k, TVD = 750000 > 100000
    assert(out == Seq(
      Seq(0L, 1L, 2L, 250000L, 500000L, 250000L, 750000L, true),
      Seq(1L, 2L, 0L, 500000L, 0L, 500000L, 750000L, true),
      Seq(2L, 1L, 0L, 250000L, 0L, 250000L, 750000L, true),
      Seq(3L, 0L, 2L, 0L, 500000L, 500000L, 750000L, true)))
    // A/A: zero TVD, no drift
    val same = rows(TableChecks.distributionDrift(a, a, "v",
      binWidth = 10L, maxBins = 4, thresholdPpm = 100000L)
      .select(col("tvd_ppm"), col("drifted")).distinct())
    assert(same == Seq(Seq(0L, false)))
    // an EMPTY today-side (the missing-delivery catastrophe) must TRIP,
    // not throw ANSI divide-by-zero or NULL the verdict: its
    // proportions are all zero → TVD = Σ pA / 2 ≈ 500000
    val empty = Seq.empty[Long].toDF("v")
    val gone = rows(TableChecks.distributionDrift(a, empty, "v",
      binWidth = 10L, maxBins = 4, thresholdPpm = 100000L)
      .select(col("tvd_ppm"), col("drifted")).distinct())
    assert(gone == Seq(Seq(500000L, true)))
    // both sides empty: no bins, no rows — nothing to judge
    assert(TableChecks.distributionDrift(empty, empty, "v",
      10L, 4, 100000L).count() == 0L)
  }

  test("dsirSelect: negative hash-derived ids and an empty pool survive") {
    val target = Seq((1L, "good good")).toDF("doc_id", "text")
    // tie on weight across a negative and a positive id — the id
    // refinement must shift, not crash on require(mn >= 0)
    val raw = Seq((-5L, "good"), (7L, "good")).toDF("doc_id", "text")
    val out = rows(TextFunctions.dsirSelect(target, raw, "doc_id", "text",
      k = 1L).orderBy(col("doc_id")))
    assert(out.map(r => (r.head, r.last)) == Seq((-5L, true), (7L, false)))
    // empty pool: empty selection, no NPE on the null min(weight)
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextFunctions.dsirSelect(target, none, "doc_id", "text",
      k = 3L).count() == 0L)
  }

  test("KMV skips nulls like COUNT(DISTINCT); zorder refuses a zval clash") {
    import graft.functions.{Sketches, Shuffles}
    val withNulls = Seq[java.lang.Long](1L, null, 2L, null, 1L)
      .map(Tuple1(_)).toDF("v")
    val m = Sketches.kmvMinima(withNulls, "v", k = 8)
    assert(m.length == 2) // 2 distinct non-null values, nulls skipped
    val clash = Seq((1L, 2L, 3L)).toDF("x", "y", "zval")
    intercept[IllegalArgumentException] {
      Shuffles.zorderLayout(clash, "x", "y", 4)
    }
  }

  test("KMV: bounded sorted distinct buffer, exact and filled regimes, set algebra") {
    import graft.functions.Sketches
    val a = (0L until 100L).map(Tuple1(_)).toDF("v")       // 100 distinct
    val b = (50L until 150L).map(Tuple1(_)).toDF("v")
    // filled regime: buffer saturates at k, stays sorted and distinct
    val m32 = Sketches.kmvMinima(a, "v", k = 32)
    assert(m32.length == 32 && m32.sameElements(m32.sorted)
      && m32.distinct.length == 32)
    val est32 = Sketches.kmvEstimate(m32, 32)
    assert(est32 > 50L && est32 < 200L, s"k=32 estimate off: $est32")
    // exact regime: sketch never fills → estimates are exact counts
    val ma = Sketches.kmvMinima(a, "v", k = 256)
    val mb = Sketches.kmvMinima(b, "v", k = 256)
    assert(Sketches.kmvEstimate(ma, 256) == 100L)
    val (estU, estI) = Sketches.kmvSetEstimates(ma, mb, 256)
    assert(estU == 150L && estI == 50L)
  }

  test("countMin: exact when collision-free, never undercounts when forced") {
    import graft.functions.Sketches
    val ev = (Seq.fill(7)("a") ++ Seq.fill(3)("b") ++ Seq("c"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "v")
    val probes = Seq("a", "b", "c").map(Tuple1(_)).toDF("v")
    // w = 256: 3 keys cannot realistically collide → estimates exact
    val sk = Sketches.countMinSketch(ev, "v")
    val est = rows(Sketches.countMinEstimate(sk, probes, "v").orderBy(col("v")))
      .map(r => r.head -> r.last).toMap
    assert(est == Map("a" -> 7L, "b" -> 3L, "c" -> 1L))
    // w = 1: every key shares the single slot → every estimate is the
    // total row count — an OVERcount for all keys, never an undercount
    val sk1 = Sketches.countMinSketch(ev, "v", w = 1)
    val est1 = rows(Sketches.countMinEstimate(sk1, probes, "v", w = 1))
      .map(_.last)
    assert(est1.forall(_ == 11L))
  }

  test("mortonInterleave: known codes, 32-bit range, dimension symmetry") {
    import graft.functions.Shuffles
    val df = Seq(
      (1L, 0L, 0L), (2L, 3L, 1L), (3L, 0L, 1L), (4L, 1L, 0L),
      (5L, 2147483648L, 0L),       // bit 31 → even bit 62
      (6L, 4294967295L, 4294967295L), // full 32-bit ones → all 64 bits set
    ).toDF("id", "x", "y")
    val out = rows(df.select(col("id"),
        Shuffles.mortonInterleave(col("x"), col("y")).as("z"))
      .orderBy(col("id"))).map(_.last)
    // spread(3)=0b101=5, spread(1)=1 → 5 | (1<<1) = 7
    assert(out == Seq(0L, 7L, 2L, 1L, 4611686018427387904L, -1L))
  }

  test("exact dedup keeps min id per content hash") {
    val out = rows(Dedup.exact(docs, "doc_id", "text")
      .filter(col("isDuplicate")).select(col("doc_id"), col("keepId")))
    assert(out == Seq(Seq(4L, 1L)))
  }

  test("minhash LSH finds the near/exact pair, not the unrelated doc") {
    val cand = rows(Dedup.lshCandidates(docs, "doc_id", "text")
      .filter(col("estJaccard") >= 0.5).select(col("id1"), col("id2")))
      .map(r => (r.head, r.last)).toSet
    assert(cand.contains((1L, 4L)))
    assert(!cand.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("lshCandidates maxBucket drops degenerate mega-buckets, keeps real pairs") {
    // 40 copies of boilerplate (every band bucket holds all 40) + one
    // genuine near-dup pair: the skew valve must kill the quadratic
    // bucket and keep the discriminating one
    val boiler = (100L to 139L).map(i => (i, "identical boilerplate text repeated across the corpus many times"))
    val corpus = (boiler :+
      (1L, "the quick brown fox jumps over the lazy dog") :+
      (2L, "the quick brown fox jumps over the lazy cat")).toDF("doc_id", "text")
    val uncapped = rows(Dedup.lshCandidates(corpus, "doc_id", "text")
      .select(col("id1"), col("id2"))).map(r => (r.head, r.last)).toSet
    assert(uncapped.size >= 40 * 39 / 2, "uncapped must pair the whole mega-bucket")
    val capped = rows(Dedup.lshCandidates(corpus, "doc_id", "text", maxBucket = 10)
      .select(col("id1"), col("id2"))).map(r => (r.head, r.last)).toSet
    assert(capped == Set((1L, 2L)),
      s"cap=10 keeps only the discriminating pair, got $capped")
  }

  test("fixed-point kernels fail fast on long overflow instead of wrapping") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val big = new GenericArrayData(Array(1000000, 1000000))   // term ~1e24 >> Long.Max
    val ok = new GenericArrayData(Array(1, 2))
    intercept[ArithmeticException] {
      graft.functions.expr.FixedPointDot.compute(big, big, 3, 3)
    }
    intercept[ArithmeticException] {
      graft.functions.expr.FixedPointL2.compute(big, ok, 3, 3)
    }
    assert(graft.functions.expr.FixedPointDot.compute(ok, ok, 3, 3) == 5L * 1000000000000L)
  }

  test("kmeans training: objective non-decreasing, clustered fixture separates") {
    // 3 clean direction-clusters, ids interleaved so the 3 seed centroids
    // span them; spherical k-means must (a) monotonically improve the
    // objective and (b) land each member in its cluster's cell
    val vecs = (0 until 30).map { i =>
      val c = i % 3
      val base = Array.fill(4)(0.05f * ((i * 7 + 3) % 5))
      base(c) = 1.0f + 0.01f * (i % 4)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val objs = Seq(0, 1, 3).map { it =>
      val cents = if (it > 0) Vectors.kmeansCentroids(vecs, 3, it)
        else Vectors.seedCentroids(vecs, 3)
      rows(Vectors.ivfObjective(vecs, cents)).head.head.asInstanceOf[Double]
    }
    assert(objs(0) <= objs(1) + 1e-9 && objs(1) <= objs(2) + 1e-9,
      s"objective must be non-decreasing across rounds: $objs")
    val celled = rows(Vectors.withIvfCell(vecs, Vectors.kmeansCentroids(vecs, 3, 3))
      .select(col("vec_id"), col("cellId")))
      .map(r => (r.head.asInstanceOf[Long], r.last.asInstanceOf[Long]))
    val byCluster = celled.groupBy { case (id, _) => id % 3 }.values
    assert(byCluster.forall(g => g.map(_._2).toSet.size == 1),
      s"each direction-cluster must share one cell: $celled")
    assert(celled.map(_._2).toSet.size == 3, "the three clusters use three distinct cells")
  }

  test("simhash is deterministic and equal for identical docs") {
    val out = rows(Dedup.simhash16(docs, "doc_id", "text")).map(r => r.head -> r.last).toMap
    assert(out(1L) == out(4L))
    assert(out(1L) != out(3L))
  }

  test("simhash near-dups: exact dup pairs at hamming 0, id1 < id2") {
    val out = rows(Dedup.simhashNearDups(docs, "doc_id", "text")
      .select(col("id1"), col("id2"), col("hamming")))
      .map(r => (r.head, r(1)) -> r(2)).toMap
    assert(out((1L, 4L)) == 0) // identical docs
    assert(out.keys.forall { case (a, b) =>
      a.asInstanceOf[Long] < b.asInstanceOf[Long] })
  }

  test("ngram jaccard: 1.0 for exact dup") {
    val cand = Seq((1L, 4L), (1L, 3L)).toDF("id1", "id2")
    val out = rows(Dedup.ngramJaccard(docs, "doc_id", "text", cand)
      .select(col("id1"), col("id2"), col("jaccard")))
      .map(r => (r.head, r(1)) -> r(2)).toMap
    assert(out((1L, 4L)) == 1.0)
    assert(out((1L, 3L)) == 0.0)
  }

  test("text functions: tokens, lang, counts, fingerprint") {
    val t = rows(docs.select(TextFunctions.wsTokenCount(col("text")),
      TextFunctions.langId(col("text")),
      TextFunctions.fingerprint(col("text"))).limit(1)).head
    assert(t.head == 9L)
    assert(t(1) == "en") // 'the' hits
    assert(t(2).asInstanceOf[String].split(",").length == 4)
  }

  test("knn brute force: identical vector is rank-1 with cosine 1") {
    val emb = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)), (4L, Array(-1.0f, 0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val out = rows(Vectors.knnBrute(emb, col("vec_id") === 100L, k = 3)
      .select(col("nid"), col("cosine"), col("rank")))
    assert(out.head == Seq(2L, 1.0, 1))
    assert(out.last.head == 4L) // opposite vector ranks last
  }

  test("knn classify: majority label wins, ties break to the smaller label, self excluded") {
    // query 100 (label 9): neighbors by cosine are 2,3 (label 1) and 4,5
    // (label 2) all at cosine 1, then 6 (label 2) lower — k=4 tallies
    // 1×2 vs 2×2, tie → label 1; k=5 adds 6 → label 2 wins 3:2
    val emb = Seq(
      (100L, Array(1.0f, 0.0f), 9),
      (2L, Array(2.0f, 0.0f), 1), (3L, Array(3.0f, 0.0f), 1),
      (4L, Array(4.0f, 0.0f), 2), (5L, Array(5.0f, 0.0f), 2),
      (6L, Array(1.0f, 0.5f), 2),
    ).toDF("vec_id", "embedding", "label")
    val k4 = rows(Vectors.knnClassify(emb, col("vec_id") === 100L, k = 4)
      .select(col("qid"), col("trueLabel"), col("predLabel"), col("votes"),
        col("correct")))
    assert(k4 == Seq(Seq(100L, 9L, 1L, 2L, 0L)), s"got $k4")
    val k5 = rows(Vectors.knnClassify(emb, col("vec_id") === 100L, k = 5)
      .select(col("predLabel"), col("votes"), col("correct")))
    assert(k5 == Seq(Seq(2L, 3L, 0L)), s"got $k5")
    // query 2 (label 1), k=2: cosine-1 ties order by nid → neighbors 3
    // (label 1) and 4 (label 2), 1:1 vote tie → label 1 → correct
    val own = rows(Vectors.knnClassify(emb, col("vec_id") === 2L, k = 2)
      .select(col("predLabel"), col("votes"), col("correct")))
    assert(own == Seq(Seq(1L, 1L, 1L)), s"got $own")
  }

  test("knn vote: broadcast and plain-join access paths row-identical; empty topk abstains") {
    // the keyPrune precedent applied to the vote's broadcast hints:
    // maxBroadcastQueries = 0 forces BOTH hints (knnBrute's query side,
    // the tally's topk side) onto the plain shuffle-join fallback — rows
    // must be identical to the hinted default
    val emb = (1L to 40L).map(i =>
        (i, Array((i % 7).toFloat + 1f, (i % 5).toFloat), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val qp = col("vec_id") % 4 === 0
    val hinted = Vectors.knnClassify(emb, qp, k = 3)
    val plain = Vectors.knnClassify(emb, qp, k = 3, maxBroadcastQueries = 0L)
    assert(hinted.exceptAll(plain).count() == 0 &&
      plain.exceptAll(hinted).count() == 0)
    // abstention contract: a query absent from the served topk frame
    // still appears — NULL predLabel/votes, correct = 0 (never dropped)
    val topk = Seq((4L, 1L), (4L, 2L)).toDF("qid", "nid") // only query 4 served
    val out = rows(Vectors.knnClassifyFrom(topk, emb, qp)
      .select(col("qid"), col("predLabel"), col("correct")).orderBy(col("qid")))
    assert(out.length == 10) // ALL %4 queries present
    // served query 4: nids 1,2 → labels 1,2, 1:1 tie → label 1; true 4%3=1
    assert(out.head == Seq(4L, 1L, 1L))
    val abstained = out.tail
    assert(abstained.forall(r => r(1) == null && r(2) == 0L), s"got $abstained")
  }

  test("JL projection: md5 signs match Spark's md5, basis vectors project to sign rows") {
    // the Scala-side sign generator and the engine's md5 must agree —
    // the oracle regenerates the matrix from the same strings
    val grid = (0 until 8).flatMap(i => (0 until 4).map(j => (i, j)))
      .toDF("i", "j")
    val engine = rows(grid.withColumn("s",
      when(expr("(conv(substring(md5(concat('jl-', i, '-', j)), 1, 1), 16, 10) % 2) = 0"),
        1L).otherwise(-1L)).orderBy(col("i"), col("j")))
    assert(engine.map(_.last) ==
      (0 until 8).flatMap(i => (0 until 4).map(j => Vectors.jlSign(i, j))))
    // e_k projects to row k of the sign matrix, scaled 1e6
    val dims = 8
    val basis = Seq((1L, Array.tabulate(dims)(d => if (d == 2) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val red = rows(Vectors.jlProject(basis, dims, 4).orderBy(col("j")))
    assert(red.map(_.last) == (0 until 4).map(j => 1000000L * Vectors.jlSign(2, j)))
    // a wrong inDims fails loudly instead of projecting a prefix
    val boom = intercept[Exception] {
      Vectors.jlProject(basis, dims + 1, 4).collect()
    }
    assert(boom.getMessage.contains("jlProject") ||
      Option(boom.getCause).exists(_.getMessage.contains("jlProject")),
      s"got $boom")
  }

  test("jlTop1Recall: an exact twin survives the projection with cosine 1") {
    val dims = 8
    def v(hot: Int) = Array.tabulate(dims)(d => if (d == hot) 1.0f else 0.0f)
    val emb = Seq((100L, v(0)), (7L, v(0)), (8L, v(1)), (9L, v(3)))
      .toDF("vec_id", "embedding")
    val out = rows(Vectors.jlTop1Recall(emb, col("vec_id") === 100L, dims, 4))
    // full top-1 of 100 is its twin 7 (cosine 1); reduced space keeps it
    assert(out.size == 1)
    val r = out.head
    assert(r(1) == 7L && r(3) == 7L && r(5) == true, s"got $r")
    assert(r(2) == 1.0 && r(4) == 1.0, s"got $r")
  }

  test("lsh buckets put identical vectors together") {
    val emb = Seq(
      (1L, Array.fill(8)(1.0f)), (2L, Array.fill(8)(1.0f)),
      (3L, Array.fill(8)(-1.0f)),
    ).toDF("vec_id", "embedding")
    val b = rows(Vectors.withLshBucket(emb, dims = 8).select(col("vec_id"), col("bucket")))
      .map(r => r.head -> r.last).toMap
    assert(b(1L) == b(2L))
    val pairs = rows(Vectors.annPairs(emb, dims = 8, minCosine = 0.9)
      .select(col("id1"), col("id2")))
    assert(pairs == Seq(Seq(1L, 2L)))
  }

  test("IVF: identical vectors share a cell; search finds the twin first") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (10L, Array(1.0f, 0.1f, 0.0f, 0.0f)), (11L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (12L, Array(0.0f, 1.0f, 0.2f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val cells = rows(Vectors.withIvfCell(emb, nCells = 2)
      .select(col("vec_id"), col("cellId"))).map(r => r.head -> r.last).toMap
    assert(cells(10L) == cells(11L)) // identical vectors co-located
    assert(cells(10L) == 1L && cells(12L) == 2L)
    val found = rows(Vectors.ivfSearch(emb, nCells = 2, nProbe = 1,
      col("vec_id") === 10L, k = 2).select(col("nid"), col("rank")))
    assert(found.head == Seq(11L, 1)) // the twin ranks first
  }

  test("IVF-PQ: residuals live in the assigned cell's frame; twin ranks first") {
    // ids 1,2 donate the coarse cells (their residuals are 0); the PQ
    // codebook donors are the first post-skip ids 10,11 — distinct
    // residuals, so the seed codebook isn't degenerate
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (10L, Array(0.0f, 1.0f, 0.2f, 0.0f)), (11L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (12L, Array(0.0f, 0.9f, 0.3f, 0.0f)), (13L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val cent = Vectors.seedCentroids(emb, 2)
    val resid = rows(Vectors.ivfResiduals(emb, cent)
      .select(col("vec_id"), col("cellId"), col("embedding")))
      .map(r => r.head -> ((r(1), r(2)))).toMap
    // identical vectors: same cell, identical residuals; centroid row 1
    // has residual 0 against its own cell
    assert(resid(11L) == resid(13L))
    assert(resid(1L)._2.asInstanceOf[scala.collection.Seq[Double]].forall(_ == 0.0))
    // twin search through the full composed index (seed quantizers):
    // identical residual → identical codes → ADC distance 0 → rank 1
    val found = rows(Vectors.ivfPqSearch(emb, nCells = 2, nProbe = 1,
        col("vec_id") === 11L, k = 2, m = 2, dsub = 2, kCode = 2)
      .select(col("nid"), col("rank"), col("adcDist")))
    assert(found.head(0) == 13L && found.head(1) == 1 && found.head(2) == 0L)
  }

  test("CDC chunks: shift-resistant sub-document dedup") {
    import graft.functions.Dedup
    val passage = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, passage),
      (2L, "totally unrelated opening words first then " + passage), // shifted
      (3L, "nothing in common with anything else here at all"),
      (4L, ""),
    ).toDF("doc_id", "text")
    val out = rows(Dedup.cdcChunks(docs, "doc_id", "text")
      .select(col("doc_id"), col("nChunks"), col("nSharedChunks")))
      .map(r => r.head -> ((r(1).asInstanceOf[Long], r(2).asInstanceOf[Long]))).toMap
    // the shared passage chunks identically despite doc 2's prefix shift:
    // every interior chunk of doc 1 appears in doc 2 (only the chunk cut
    // at the splice point may differ)
    assert(out(1L)._2 >= out(1L)._1 - 1 && out(1L)._2 > 0,
      s"shift-resistance: ${out(1L)}")
    assert(out(2L)._2 > 0)
    assert(out(3L) == ((out(3L)._1, 0L)) && out(3L)._1 > 0) // nothing shared
    assert(out(4L) == ((0L, 0L)))                           // empty doc
  }

  test("duplicate spans: maximal >=k-token runs marked, cross- and intra-doc") {
    import graft.functions.Dedup
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 5).map(i => s"u$i").mkString(" ") + " " + shared + " " +
        (1 to 5).map(i => s"v$i").mkString(" ")),
      (2L, "w1 w2 w3 " + shared + " x1 x2"),
      (3L, (1 to 12).map(i => s"z$i").mkString(" ")), // long enough, all unique
      (4L, rep + " q1 " + rep),                       // intra-doc repetition
      (5L, "a b c"),                                  // too short for any gram
    ).toDF("doc_id", "text")
    val out = rows(Dedup.duplicateSpans(docs, "doc_id", "text")
      .orderBy(col("doc_id"), col("spanStart")))
    // the 10-token shared run is ONE maximal span per doc (grams chain),
    // the self-repeat marks both occurrences, unique/short docs are silent
    assert(out == Seq(
      Seq(1L, 5L, 14L, 10L),
      Seq(2L, 3L, 12L, 10L),
      Seq(4L, 0L, 7L, 8L),
      Seq(4L, 9L, 16L, 8L)))
    // overlap case: doc 6's windows at pos 0 (dup of doc 7) and pos 2
    // (dup of doc 8) — gap 2 < k — merge into ONE span over tokens 0..9;
    // two overlapping spans would double-count tokens 2..7
    val a = (1 to 10).map(i => s"a$i")
    val out2 = rows(Dedup.duplicateSpans(Seq(
        (6L, a.mkString(" ")),
        (7L, a.take(8).mkString(" ")),
        (8L, a.drop(2).mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text").orderBy(col("doc_id"), col("spanStart")))
    assert(out2 == Seq(
      Seq(6L, 0L, 9L, 10L),
      Seq(7L, 0L, 7L, 8L),
      Seq(8L, 0L, 7L, 8L)))
  }

  test("incremental spans: batch classifies vs standing index, no corpus recompute") {
    import graft.functions.Dedup
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val existing = Seq(
      (1L, "e1 e2 " + shared + " e3 e4"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (3L, "b1 b2 " + shared + " b3"),              // matches the corpus
      (6L, (1 to 12).map(i => s"c$i").mkString(" ")), // batch-internal dup pair
      (9L, (1 to 12).map(i => s"c$i").mkString(" ")),
      (12L, (1 to 12).map(i => s"u$i").mkString(" ")), // unique
    ).toDF("doc_id", "text")
    val out = rows(Dedup.incrementalSpans(existing, batch, "doc_id", "text")
      .orderBy(col("doc_id"), col("spanStart")))
    assert(out == Seq(
      Seq(3L, 2L, 11L, 10L, true),   // the corpus-shared run, vsExisting
      Seq(6L, 0L, 11L, 12L, false),  // batch-only duplication
      Seq(9L, 0L, 11L, 12L, false)))
  }

  test("span cut: first occurrence survives, later occurrences lose their tokens") {
    import graft.functions.Dedup
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 5).map(i => s"u$i").mkString(" ") + " " + shared + " " +
        (1 to 5).map(i => s"v$i").mkString(" ")),
      (2L, "w1 w2 w3 " + shared + " x1 x2"),
      (4L, rep + " q1 " + rep),
      (5L, "a b c"),
    ).toDF("doc_id", "text")
    val out = rows(Dedup.cutDuplicateSpans(docs, "doc_id", "text")
      .orderBy(col("doc_id")))
    assert(out == Seq(
      // doc 1 owns every shared gram's first occurrence → nothing cut
      Seq(1L, 20L, 20L, 0L, md5hex(((1 to 5).map(i => s"u$i") ++
        (1 to 10).map(i => s"s$i") ++ (1 to 5).map(i => s"v$i")).mkString(" "))),
      // doc 2's copy of the 10-token run is cut whole
      Seq(2L, 15L, 5L, 10L, md5hex("w1 w2 w3 x1 x2")),
      // the self-repeat keeps its first 8 tokens, loses the second run
      Seq(4L, 17L, 9L, 8L, md5hex(((1 to 8).map(i => s"r$i") :+ "q1").mkString(" "))),
      // too short for any gram → untouched
      Seq(5L, 3L, 3L, 0L, md5hex("a b c"))))
  }

  test("chunk windows: overlap, short tail, single chunk at n<=width, empty doc none") {
    import graft.functions.TextFunctions
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // w=4,s=3: chunks at 0,3,6 → last covers 7..10
      (2L, "a b c"),                                  // n=3 ≤ width → one chunk
      (3L, ""),                                       // empty → none
    ).toDF("doc_id", "text")
    val out = rows(TextFunctions.chunkWindows(docs, "doc_id", "text",
      width = 4, stride = 3).orderBy(col("doc_id"), col("chunkIdx")))
    val d1 = out.filter(_.head == 1L)
    assert(d1.map(r => (r(1), r(2), r(3))) ==
      Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L)), s"got $out")
    assert(d1.head(4) == md5hex("t1 t2 t3 t4"))
    assert(d1.last(4) == md5hex("t7 t8 t9 t10"))
    assert(out.filter(_.head == 2L) == Seq(Seq(2L, 0L, 0L, 3L, md5hex("a b c"))))
    assert(!out.exists(_.head == 3L))
    // n=11 with the same grid: the tail chunk runs SHORT (start 9, 2 toks)
    val tail = rows(TextFunctions.chunkWindows(
      Seq((9L, (1 to 11).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text", width = 4, stride = 3)
      .orderBy(col("chunkIdx")).select(col("startTok"), col("nTok")))
    assert(tail == Seq(Seq(0L, 4L), Seq(3L, 4L), Seq(6L, 4L), Seq(9L, 2L)),
      s"got $tail")
    // pure map work: the chunker itself plans with NO exchange at all
    val plan = TextFunctions.chunkWindows(docs, "doc_id", "text", 4, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("shingle containment: excerpt hits 1.0 on its side while jaccard stays low") {
    import graft.functions.Dedup
    val docs = Seq(
      (1L, "a b c d e f g h"), // 6 shingles
      (2L, "a b c d"),         // 2 shingles, both inside doc 1
      (3L, "x y z w"),         // 2 shingles, disjoint from doc 1
      (4L, "q r"),             // below shingle width: NO shingles
    ).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id1", "id2")
    val out = rows(Dedup.shingleContainment(docs, "doc_id", "text", cand)
      .select(col("id1"), col("id2"), col("inter"), col("szA"), col("szB"),
        col("jaccard"), col("containA"), col("containB"))
      .orderBy(col("id2")))
    assert(out(0) == Seq(1L, 2L, 2L, 6L, 2L, 2.0 / 6, 2.0 / 6, 1.0), s"got $out")
    assert(out(1) == Seq(1L, 3L, 0L, 6L, 2L, 0.0, 0.0, 0.0))
    // shingle-less candidate keeps its row; its side's ratio is NULL,
    // never a guessed zero (the d4 LEFT-join contract)
    assert(out(2) == Seq(1L, 4L, 0L, 6L, 0L, 0.0, 0.0, null))
  }

  test("decontaminateSpans: eval grams excised with clamped margin, clean docs untouched") {
    import graft.functions.Dedup
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val evalDocs = Seq((100L, (1 to 10).map(i => s"s$i").mkString(" ")))
      .toDF("doc_id", "text")
    val train = Seq(
      // u1..u5 s1..s10 v1..v20: eval 8-grams hit at pos 5,6,7; the ±8
      // margin clamps at 0 on the left and reaches pos 22 on the right
      (1L, ((1 to 5).map(i => s"u$i") ++ (1 to 10).map(i => s"s$i") ++
        (1 to 20).map(i => s"v$i")).mkString(" ")),
      (2L, (1 to 20).map(i => s"w$i").mkString(" ")), // clean — untouched
      (3L, "a b c"),                                  // too short for grams
    ).toDF("doc_id", "text")
    val out = rows(Dedup.decontaminateSpans(train, evalDocs, "doc_id", "text")
      .orderBy(col("doc_id")))
    assert(out == Seq(
      Seq(1L, 35L, 12L, 23L, 3L, md5hex((9 to 20).map(i => s"v$i").mkString(" "))),
      Seq(2L, 20L, 20L, 0L, 0L, md5hex((1 to 20).map(i => s"w$i").mkString(" "))),
      Seq(3L, 3L, 3L, 0L, 0L, md5hex("a b c"))), s"got $out")
    // margin 0 = pure matched-window cut: exactly s1..s10 goes
    val m0 = rows(Dedup.decontaminateSpans(train, evalDocs, "doc_id", "text",
      margin = 0).filter(col("doc_id") === 1L))
    assert(m0 == Seq(Seq(1L, 35L, 25L, 10L, 3L,
      md5hex(((1 to 5).map(i => s"u$i") ++ (1 to 20).map(i => s"v$i"))
        .mkString(" ")))), s"got $m0")
  }

  test("balancedPack: round-robin-decreasing bounds per-shard bin skew by the largest doc") {
    import graft.functions.Shuffles
    val docs = (1L to 200L).map(i => (i, (i * 7) % 50 + 1)).toDF("doc_id", "tok")
    val out = rows(Shuffles.balancedPack(docs, "doc_id", "tok",
      nShards = 4, nBins = 3).select(col("doc_id"), col("tok"),
      col("shard"), col("bin")))
    assert(out.size == 200)
    assert(out.forall { r =>
      val b = r(3).asInstanceOf[Long]; b >= 0L && b < 3L })
    val byShard = out.groupBy(_(2).asInstanceOf[Long])
    byShard.foreach { case (_, rs) =>
      val byBin = rs.groupBy(_(3).asInstanceOf[Long])
        .view.mapValues(_.map(_(1).asInstanceOf[Long]))
      // doc counts per bin differ by at most one (pure round robin)
      val counts = byBin.values.map(_.size)
      assert(counts.max - counts.min <= 1)
      // token totals per bin differ by at most the shard's largest doc
      // (descending rounds telescope: Σ round spreads ≤ max item)
      val totals = byBin.values.map(_.sum)
      assert(totals.max - totals.min <= rs.map(_(1).asInstanceOf[Long]).max,
        s"skew ${totals.max - totals.min} exceeds largest doc")
    }
    // replayable; a fresh salt is a fresh assignment; nBins=1 degenerates
    val again = rows(Shuffles.balancedPack(docs, "doc_id", "tok",
      nShards = 4, nBins = 3).select(col("doc_id"), col("shard"), col("bin")))
    assert(again == rows(Shuffles.balancedPack(docs, "doc_id", "tok",
      nShards = 4, nBins = 3).select(col("doc_id"), col("shard"), col("bin"))))
    val salted = rows(Shuffles.balancedPack(docs, "doc_id", "tok",
      nShards = 4, nBins = 3, salt = "pack1")
      .select(col("doc_id"), col("shard"), col("bin")))
    assert(salted != again)
    assert(rows(Shuffles.balancedPack(docs, "doc_id", "tok", nShards = 2,
      nBins = 1).select(col("bin"))).forall(_.head == 0L))
  }

  test("contextPack: contiguous shard streams, integer context spans, empty-doc corner") {
    import graft.functions.Shuffles
    // pinned single-doc case: 25 tokens + 1 EOD on a 10-token grid
    val one = rows(Shuffles.contextPack(
      Seq((1L, 25L)).toDF("doc_id", "tok"), "doc_id", "tok",
      ctxLen = 10L, nShards = 1)
      .select(col("streamStart"), col("tokSep"), col("startCtx"),
        col("endCtx"), col("nCtx")))
    assert(one == Seq(Seq(0L, 26L, 0L, 2L, 3L)), s"got $one")
    val docs = (1L to 300L).map(i => (i, (i * 13) % 80)).toDF("doc_id", "tok")
    val out = rows(Shuffles.contextPack(docs, "doc_id", "tok",
      ctxLen = 64L, nShards = 4)
      .select(col("doc_id"), col("tok"), col("shard"), col("tokSep"),
        col("streamStart"), col("startCtx"), col("endCtx"), col("nCtx")))
    assert(out.size == 300)
    out.groupBy(_(2).asInstanceOf[Long]).foreach { case (_, rs) =>
      // streams are contiguous: sorted by streamStart, each doc starts
      // exactly where the previous one ended
      val sorted = rs.sortBy(_(4).asInstanceOf[Long])
      assert(sorted.head(4) == 0L)
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b(4).asInstanceOf[Long] ==
            a(4).asInstanceOf[Long] + a(3).asInstanceOf[Long])
        case _ =>
      }
    }
    out.foreach { r =>
      val Seq(tok, _, tokSep, start, sc, ec, n) =
        r.drop(1).map(_.asInstanceOf[Long])
      assert(tokSep == tok + 1)
      assert(sc == start / 64 && ec == (start + tokSep - 1) / 64)
      assert(n == ec - sc + 1 && n >= 1)
    }
    // replayable; fresh salt is a fresh packing
    val a = rows(Shuffles.contextPack(docs, "doc_id", "tok", 64L, 4)
      .select(col("doc_id"), col("shard"), col("startCtx")))
    assert(a == rows(Shuffles.contextPack(docs, "doc_id", "tok", 64L, 4)
      .select(col("doc_id"), col("shard"), col("startCtx"))))
    assert(a != rows(Shuffles.contextPack(docs, "doc_id", "tok", 64L, 4,
      salt = "ctx1").select(col("doc_id"), col("shard"), col("startCtx"))))
    // sep = 0 with an empty doc occupies no range: nCtx = 0 in both
    // stream positions (start of shard and mid-stream)
    val z = rows(Shuffles.contextPack(
      Seq((1L, 0L), (2L, 5L), (3L, 0L)).toDF("doc_id", "tok"),
      "doc_id", "tok", ctxLen = 4L, nShards = 1, sep = 0)
      .select(col("doc_id"), col("nCtx")))
    assert(z.collect { case Seq(_, n: Long) => n }.sorted == Seq(0L, 0L, 2L),
      s"got $z")
  }

  test("shard shuffle: total replayable permutation, new salt reorders") {
    import graft.functions.Shuffles
    val ids = (1L to 200L).toDF("doc_id")
    val out = rows(Shuffles.shardShuffle(ids, "doc_id", nShards = 4)
      .select(col("doc_id"), col("shard"), col("pos")))
    // a permutation: every (shard, pos) unique, pos contiguous from 1
    assert(out.size == 200)
    assert(out.map(r => (r(1), r(2))).distinct.size == 200)
    val byShard = out.groupBy(_(1)).view.mapValues(_.map(_(2).asInstanceOf[Long]).sorted)
    assert(byShard.values.forall(ps => ps == (1L to ps.size)))
    // replayable: same salt → same assignment; new salt → different order
    val again = rows(Shuffles.shardShuffle(ids, "doc_id", nShards = 4)
      .select(col("doc_id"), col("shard"), col("pos")))
    assert(again == out)
    val epoch1 = rows(Shuffles.shardShuffle(ids, "doc_id", nShards = 4, salt = "epoch1")
      .select(col("doc_id"), col("shard"), col("pos")))
    assert(epoch1 != out)
    // shuffled, not id-ordered: within a shard, doc_id is not monotone
    val idsInOrder = out.sortBy(r => (r(1).asInstanceOf[Long], r(2).asInstanceOf[Long]))
      .groupBy(_(1)).values.map(_.map(_.head.asInstanceOf[Long]))
    assert(idsInOrder.exists(seq => seq != seq.sorted))
  }

  test("budgeted mix: shard quotas respected, at most one straddler each") {
    import graft.functions.Shuffles
    val docs = (1L to 300L).map(i => (i, if (i % 3 == 0) "a" else "b", 10L))
      .toDF("doc_id", "src", "tok")
    val out = Shuffles.budgetedMix(docs, "doc_id", "src", "tok",
      Map("a" -> 200L, "b" -> 400L), nShards = 4)
    val kept = rows(out.filter(col("keep"))
      .select(col("src"), col("shard"), col("tok")))
    // per (src, shard): spent-before < budget/4, so kept tokens never
    // exceed quota + one straddling doc
    val perShard = kept.groupBy(r => (r.head, r(1)))
      .view.mapValues(_.map(_(2).asInstanceOf[Long]).sum)
    assert(perShard.collect { case ((("a"), _), t) => t }.forall(_ <= 50L + 10L))
    assert(perShard.collect { case ((("b"), _), t) => t }.forall(_ <= 100L + 10L))
    // deterministic: same call, same kept set; unknown source dropped
    val again = rows(Shuffles.budgetedMix(docs, "doc_id", "src", "tok",
      Map("a" -> 200L, "b" -> 400L), nShards = 4).filter(col("keep"))
      .select(col("doc_id"))).map(_.head)
    assert(again.toSet == rows(out.filter(col("keep"))
      .select(col("doc_id"))).map(_.head).toSet)
    val none = Shuffles.budgetedMix(docs.filter(col("src") === "a"), "doc_id",
      "src", "tok", Map("b" -> 400L), nShards = 4)
    assert(rows(none.filter(col("keep"))).isEmpty)
    // a positive budget below nShards must NOT floor to zero: the
    // fractional quota admits exactly the first doc of each shard
    val tiny = rows(Shuffles.budgetedMix(docs, "doc_id", "src", "tok",
      Map("a" -> 2L), nShards = 4).filter(col("keep")).select(col("src")))
    assert(tiny.size == 4 && tiny.forall(_.head == "a"))
  }

  test("HLL cardinality: estimate inside the m=64 error band, deterministic") {
    import graft.functions.Sketches
    val vals = (1L to 5000L).map(i => Tuple1(s"value_$i")).toDF("v")
    val est = rows(Sketches.hllCardinality(vals, "v"))
      .head(1).asInstanceOf[Double]
    // rsd for m=64 is ~1.04/8 = 13%; allow 3 sigma
    assert(math.abs(est - 5000.0) / 5000.0 < 0.4, s"estimate $est")
    val again = rows(Sketches.hllCardinality(vals, "v")).head(1)
    assert(again == est) // deterministic md5 registers: same input, same estimate
  }

  test("multimodal resize and frame sampling plumbing") {
    val media = Multimodal.asMedia(docs)
    val resized = Multimodal.resize(spark, media, w = 4, h = 2, partitions = 2).collect()
    assert(resized.length == 4 && resized.forall(_.payload.length <= 8))
    val video = media.filter(col("modality") === "video")
    val frames = Multimodal.sampleFrames(spark, media, frameBytes = 8, everyN = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frameIdx % 2 == 0))
    assert(frames.forall(_.payload.length <= 8))
    val expectedDocs = video.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(frames.map(_.doc_id).toSet == expectedDocs)
  }

  test("multimodal REAL decode: generated PNGs yield true dims, luma, thumbnails") {
    import java.awt.image.BufferedImage
    // a 64x32 PNG: left half pure red (luma 76.245), right half pure
    // white (luma 255) → mean luma (76.245 + 255) / 2
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, if (x < w / 2) 0xff0000 else 0xffffff)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val media = Seq((1L, "image", png(64, 32)), (2L, "image", png(20, 10)),
        (3L, "audio", "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "modality", "payload")
    val feats = Multimodal.extractFeatures(spark, media, partitions = 2)
      .collect().sortBy(_.doc_id)
    assert(feats(0).width == 64 && feats(0).height == 32)
    assert(feats(1).width == 20 && feats(1).height == 10)
    val expLuma = ((255 * 299 / 1000.0) + 255.0) / 2
    assert(math.abs(feats(0).meanLuma - expLuma) < 0.01,
      s"real luma, got ${feats(0).meanLuma}")
    // the audio row fell back to the stub (width from byte stats)
    assert(feats(2).width == 16 + "not an image".length % 64)
    // resize: the thumbnail is a REAL 4x2 PNG that decodes back
    val thumb = Multimodal.resize(spark, media, w = 4, h = 2).collect()
      .find(_.doc_id == 1L).get
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(thumb.payload))
    assert(back.getWidth == 4 && back.getHeight == 2)
    // left edge stays red-ish, right edge white-ish after scaling
    assert((back.getRGB(0, 0) & 0xff0000) != 0 && (back.getRGB(3, 1) & 0xffffff) == 0xffffff)
  }

  test("multimodal REAL decode: JPEG payloads through javax.imageio — geometry exact, luma banded") {
    // what a real crawl is mostly made of: JPEG bytes (SOI sniffed)
    // through the SAME batched path as PNG/BMP — dimensions must come
    // back exactly; values are quantized, so luma gates as a band
    val jp = Multimodal.solidJpeg(28, 13, 96)
    assert((jp(0) & 0xff) == 0xff && (jp(1) & 0xff) == 0xd8, "SOI magic")
    assert(Multimodal.ImageDecoder.sniff(jp))
    val (w, h, luma) = Multimodal.ImageDecoder.decode(jp).get
    assert(w == 28 && h == 13, s"JPEG geometry is lossless, got ${(w, h)}")
    assert(math.abs(luma - 96.0) <= 8.0, s"solid-gray luma band, got $luma")
    // resize: real decode → 4x2 scale → PNG re-encode → decodes back
    val thumb = Multimodal.ImageDecoder.resize(jp, 4, 2).get
    val (bw, bh, bl) = Multimodal.ImageDecoder.decode(thumb).get
    assert(bw == 4 && bh == 2 && math.abs(bl - 96.0) <= 8.0, s"got ${(bw, bh, bl)}")
    // a truncated JPEG (header only) falls to the stub, never throws
    assert(Multimodal.ImageDecoder.decode(jp.take(8)).isEmpty)
    // batched path: a JPEG row among stub rows decodes for real
    val media = Seq((1L, "image", jp),
        (2L, "audio", "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "modality", "payload")
    val feats = Multimodal.extractFeatures(spark, media).collect().sortBy(_.doc_id)
    assert(feats(0).width == 28 && feats(0).height == 13)
    assert(feats(1).width == 16 + "not an image".length % 64)
  }

  test("pHash: REAL pixels — identical PNGs at hamming 0, a small edit stays near") {
    import java.awt.image.BufferedImage
    def png(edit: Boolean): Array[Byte] = {
      val img = new BufferedImage(36, 16, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 36)
        img.setRGB(x, y, (x * 7 + y * 11) % 256 << 16 | (x * 3) % 256)
      // a localized edit: one 4x4 patch flipped to white
      if (edit) for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0xffffff)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    def dh(p: Array[Byte]): Long = {
      val g = Multimodal.ImageDecoder.lumaGrid(p).get
      assert(g.length == 72 && g.forall(v => v >= 0 && v <= 255))
      (0 until 64).map { k =>
        val r = k / 8; val c = k % 8
        if (g(r * 9 + c + 1) > g(r * 9 + c)) 1L << k else 0L
      }.sum
    }
    assert(dh(png(false)) == dh(png(false))) // re-encode-stable
    val ham = java.lang.Long.bitCount(dh(png(false)) ^ dh(png(true)))
    // the edit touches ~1 of 72 grid cells → a handful of bits
    assert(ham >= 1 && ham <= 6, s"hamming $ham")
  }

  test("phashNearDups: twin at 0, tail-perturbed near, unrelated dropped") {
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, text), (2L, text),                        // exact twin
      (3L, text.dropRight(12) + "!!!!!!!!!!!!"),     // same-length edit
      (4L, (1 to 30).map(i => s"q${i * 7}").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val out = rows(Multimodal.phashNearDups(Multimodal.asMedia(docs),
      "doc_id").orderBy(col("id1"), col("id2")))
    val pairs = out.map(r => (r(0), r(1)) -> (r(2), r(3))).toMap
    assert(pairs((1L, 2L)) == ((0, true)))
    val near = pairs((1L, 3L))
    assert(near._2 == false && near._1.asInstanceOf[Int] >= 1, s"got $near")
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("phashNearDupsAgainst: exact/near/unique verdicts against the standing index") {
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val standing = Seq((1L, text),
      (2L, (1 to 30).map(i => s"z${i * 3}").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, text),                                    // exact re-delivery
      (11L, text.dropRight(12) + "!!!!!!!!!!!!"),     // same-length edit
      (12L, (1 to 40).map(i => s"m${i * 13}").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val idx = Multimodal.phashIndex(Multimodal.asMedia(standing), "doc_id")
    // a NULL payload drops out of the batch, never hashes to a
    // valid-looking 0
    val withNull = Multimodal.asMedia(batch).unionByName(
      Seq((13L, "video")).toDF("doc_id", "modality")
        .withColumn("payload", lit(null).cast("binary")))
    val out = rows(Multimodal.phashNearDupsAgainst(idx, withNull,
      "doc_id").orderBy(col("doc_id")))
    assert(out.size == 3 && !out.exists(_.head == 13L))
    assert(out(0) == Seq(10L, "exact_phash", 1L, 0))
    assert(out(1)(1) == "near_dup" && out(1)(2) == 1L &&
      out(1)(3).asInstanceOf[Int] >= 1, s"got ${out(1)}")
    assert(out(2) == Seq(12L, "unique", null, null))
  }

  test("multimodal REAL decode: WAV PCM payloads yield frames, channels, amplitude") {
    // hand-assembled RIFF/WAVE, 16-bit stereo, 3 frames with known
    // amplitudes: L/R pairs (0, 16384), (-32768, 8192), (32767, 0)
    def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val samples = Seq(0, 16384, -32768, 8192, 32767, 0)
    val data = samples.flatMap(le16).toArray
    val fmt = le16(1) ++ le16(2) ++ le32(44100) ++ le32(44100 * 4) ++ le16(4) ++ le16(16)
    val wav = "RIFF".getBytes ++ le32(4 + 24 + 8 + data.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ fmt ++ "data".getBytes ++ le32(data.length) ++ data
    val exp = samples.map(s => math.abs(s.toDouble) / 32768.0).sum / samples.length
    val got = Multimodal.WavDecoder.decode(wav)
    assert(got.isDefined, "hand-built WAV must decode")
    val (frames, channels, amp) = got.get
    assert(frames == 3 && channels == 2)
    assert(math.abs(amp - exp) < 1e-9, s"mean |amplitude|, got $amp want $exp")
    // through the partition-batched pipeline: the WAV row decodes real,
    // a non-WAV audio row still falls back to the stub
    val media = Seq((1L, "audio", wav), (2L, "audio", "plain bytes".getBytes("UTF-8")))
      .toDF("doc_id", "modality", "payload")
    val feats = Multimodal.extractFeatures(spark, media).collect().sortBy(_.doc_id)
    assert(feats(0).width == 3 && feats(0).height == 2
      && math.abs(feats(0).meanLuma - exp) < 1e-9)
    assert(feats(1).height == 1, "stub audio keeps height 1")
    // truncated header and zero-frame data refuse rather than misreport
    assert(Multimodal.WavDecoder.decode(wav.take(20)).isEmpty)
    // non-PCM (A-law, audioFormat 6) refuses — compressed samples must
    // not be read as PCM
    val alaw = "RIFF".getBytes ++ le32(4 + 24 + 8 + data.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++
      (le16(6) ++ le16(2) ++ le32(44100) ++ le32(44100 * 4) ++ le16(4) ++ le16(16)) ++
      "data".getBytes ++ le32(data.length) ++ data
    assert(Multimodal.WavDecoder.decode(alaw).isEmpty)
    // a hostile chunk size near Int.MaxValue must not overflow the walk
    // into an out-of-bounds read — refuse, never throw
    val hostile = "RIFF".getBytes ++ le32(0x7ffffff0) ++ "WAVE".getBytes ++
      "junk".getBytes ++ le32(0x7ffffff0) ++ new Array[Byte](64)
    assert(Multimodal.WavDecoder.decode(hostile).isEmpty)
    val empty = "RIFF".getBytes ++ le32(4 + 24 + 8) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ fmt ++ "data".getBytes ++ le32(0) ++
      new Array[Byte](8) // padding so sniff's length gate passes
    assert(Multimodal.WavDecoder.decode(empty).isEmpty)
  }

  test("dup clusters: transitive chain collapses to min id; components separate") {
    // chain 1-2, 2-5 plus isolated pair 7-9: two components
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L)).toDF("id1", "id2")
    val out = rows(Dedup.dupClusters(pairs).orderBy(col("id")))
      .map(r => r.head -> r.last).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("dup clusters: refuses to return unconverged labels") {
    // a 26-node path cannot converge in 3 rounds — silent wrong labels
    // must be an error, not a result
    val pairs = (1L to 25L).map(i => (i, i + 1)).toDF("id1", "id2")
    intercept[IllegalStateException] {
      Dedup.dupClusters(pairs, maxRounds = 3)
    }
  }

  test("dup clusters: a 100-node path converges in O(log d) rounds") {
    // plain min-label propagation needs 99 rounds here and would trip the
    // default 20-round cap; the pointer-jumping variant must finish well
    // inside it
    val pairs = (1L to 99L).map(i => (i, i + 1)).toDF("id1", "id2")
    val out = rows(Dedup.dupClusters(pairs)).map(_.last).distinct
    assert(out == Seq(1L))
  }

  test("incremental dedup: existing beats in-batch, unique stands alone") {
    val existing = Seq((10L, "aaa"), (11L, "bbb")).toDF("doc_id", "text")
    val batch = Seq((20L, "aaa"), (21L, "ccc"), (22L, "ccc"), (23L, "ddd"))
      .toDF("doc_id", "text")
    val out = rows(Dedup.incrementalExact(existing, batch, "doc_id", "text")
      .select(col("doc_id"), col("status"), col("keepId")).orderBy(col("doc_id")))
    assert(out == Seq(
      Seq(20L, "dup_of_existing", 10L),
      Seq(21L, "unique", 21L),
      Seq(22L, "dup_in_batch", 21L),
      Seq(23L, "unique", 23L)))
  }

  test("incremental LSH: batch near-dup of existing matched, unique stands alone") {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely here now friends"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),   // near/exact of 1
      (11L, "unrelated payload with its own vocabulary tokens throughout"),
      (20L, "fresh novel content never seen by the standing corpus before"),
      (21L, "fresh novel content never seen by the standing corpus before"), // in-batch dup of 20
    ).toDF("doc_id", "text")
    val out = rows(Dedup.incrementalLsh(existing, batch, "doc_id", "text")
      .select(col("doc_id"), col("status"), col("matchId")).orderBy(col("doc_id")))
    assert(out == Seq(
      Seq(10L, "near_dup", 1L),
      Seq(11L, "unique", null),
      Seq(20L, "unique", null),                 // first-seen keeper stands
      Seq(21L, "near_dup_in_batch", 20L)))      // same-batch burst caught
  }

  test("bm25 retrieval: rare terms outrank common, elision drops saturating terms, length normalizes") {
    import graft.functions.TextFunctions
    val corpus = Seq(
      (1L, "zebra common filler filler"),          // rare 'zebra' + common
      (2L, "common filler filler filler"),         // only common terms
      (3L, "zebra zebra common filler filler filler filler filler"), // more zebra but longer
      (4L, "aardvark common filler"),              // rare term the query lacks
    ).toDF("doc_id", "text")
    val queries = Seq((100L, "zebra common")).toDF("doc_id", "text")
    // 'common'/'filler' are in 4/4 corpus docs -> elided at the default
    // df>N/2 bar; only 'zebra' survives, so doc 4 and doc 2 score no
    // candidate rows at all and docs 1,3 rank by the zebra tf/length
    // trade-off: doc 1 (tf 1, dl 4) vs doc 3 (tf 2, dl 8) — BM25's
    // saturation + length penalty must decide deterministically
    val out = rows(TextFunctions.bm25TopK(corpus, queries, "doc_id", "text",
        k = 5).select(col("qid"), col("did"), col("rank"))
        .orderBy(col("rank")))
      .map(r => (r(1), r(2)))
    assert(out.map(_._1).toSet == Set(1L, 3L), s"got $out")
    // doc 3: tfn = 2*2.2/(2+1.2*(0.25+0.75*(8/4.75))) = higher than
    // doc 1's 1*2.2/(1+1.2*(0.25+0.75*(4/4.75))) — verified numerically:
    // 4.4/3.815... = 1.153 vs 2.2/2.058 = 1.069 -> doc 3 first
    assert(out == Seq((3L, 1L), (1L, 2L)), s"got $out")
    // raising the bar to 1.0 admits the common terms: every corpus doc
    // now scores, and doc 2 (common-only) enters the ranking
    val all = rows(TextFunctions.bm25TopK(corpus, queries, "doc_id", "text",
        k = 5, maxDfPpm = 1000000L).select(col("did")))
      .map(_.head).toSet
    assert(all == Set(1L, 2L, 3L, 4L), s"got $all")
  }

  test("rouge overlap: clipped n-gram matching by hand") {
    import graft.functions.TextFunctions
    // ref (qid 1) "a a b c" vs cand (did 2) "a b b d":
    // unigrams  — ref {a:2,b:1,c:1}, cand {a:1,b:2,d:1} → clipped
    //   matched = min(2,1)+min(1,2) = 2; totals 4 and 4
    // bigrams — ref {a a, a b, b c}, cand {a b, b b, b d} → matched 1
    val docs = Seq((1L, "a a b c"), (2L, "a b b d")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("qid", "did")
    val u = rows(TextFunctions.rougeOverlap(pairs, docs, "doc_id", "text",
      n = 1, tag = "1")).head
    assert(u == Seq(1L, 2L, 2L, 4L, 4L), s"got $u") // qid did m c r
    val b = rows(TextFunctions.rougeOverlap(pairs, docs, "doc_id", "text",
      n = 2, tag = "2")).head
    assert(b == Seq(1L, 2L, 1L, 3L, 3L), s"got $b")
    // F1 identity: 2m/(c+r) → unigram 4/8 = 500000 ppm
    assert(2 * 2 * 1000000 / (4 + 4) == 500000)
  }

  test("rouge-L: token LCS by hand (nested-aggregate DP)") {
    import graft.functions.TextFunctions
    // the classic pair: abcbdab / bdcaba → LCS 4 (b c b a)
    val docs = Seq((1L, "a b c b d a b"), (2L, "b d c a b a"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("qid", "did")
    val out = rows(TextFunctions.rougeLcs(pairs, docs, "doc_id", "text")).head
    assert(out == Seq(1L, 2L, 4L, 6L, 7L), s"got $out") // qid did lcs cL rL
    // identical docs: LCS = full length; disjoint docs: 0
    val docs2 = Seq((1L, "x y z"), (2L, "x y z"), (3L, "p q"))
      .toDF("doc_id", "text")
    val both = rows(TextFunctions.rougeLcs(
      Seq((1L, 2L), (1L, 3L)).toDF("qid", "did"), docs2, "doc_id", "text")
      .orderBy(col("did")))
    assert(both(0) == Seq(1L, 2L, 3L, 3L, 3L), s"got $both")
    assert(both(1) == Seq(1L, 3L, 0L, 2L, 3L), s"got $both")
  }

  test("rouge-L maxTokens clamps both sides to their first N tokens") {
    import graft.functions.TextFunctions
    val docs = Seq((1L, "a b c b d a b"), (2L, "b d c a b a"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("qid", "did")
    // clamp = scoring the manually-truncated docs: LCS("a b c b",
    // "b d c a") = 2 (b c), both lengths read as 4
    val clamped = rows(TextFunctions.rougeLcs(pairs, docs, "doc_id", "text",
      maxTokens = 4)).head
    assert(clamped == Seq(1L, 2L, 2L, 4L, 4L), s"got $clamped")
    val manual = rows(TextFunctions.rougeLcs(pairs,
      Seq((1L, "a b c b"), (2L, "b d c a")).toDF("doc_id", "text"),
      "doc_id", "text")).head
    assert(clamped == manual)
    // a bound past both lengths is the identity configuration
    val loose = rows(TextFunctions.rougeLcs(pairs, docs, "doc_id", "text",
      maxTokens = 100)).head
    assert(loose == Seq(1L, 2L, 4L, 6L, 7L), s"got $loose")
  }

  test("bm25 posting truncation: impact order keeps high-dtf/short docs, default keeps all") {
    import graft.functions.TextFunctions
    // term 'z': doc 1 impact 2/3, doc 2 impact 1/4, doc 3 impact 3/3=1,
    // doc 4 impact 1/2 — maxPostings=2 must keep docs 3 (1.0) and 1
    // (0.667) and drop 4 (0.5) and 2 (0.25)
    val corpus = Seq((1L, "z z a"), (2L, "z b c d"), (3L, "z z z"),
      (4L, "z e")).toDF("doc_id", "text")
    val posts = TextFunctions.bm25Postings(corpus, "doc_id", "text")
    val trunc = TextFunctions.bm25IndexFrom(posts, maxDfPpm = 1000000L,
      maxPostings = 2L)
    assert(rows(trunc.filter(col("term") === "z").select(col("did"))
      .orderBy(col("did"))).map(_.head) == Seq(1L, 3L))
    // stats stay TRUE corpus stats after truncation (df=4, nDocs=4)
    assert(rows(trunc.filter(col("term") === "z")
      .select(col("df"), col("nDocs")).distinct()) == Seq(Seq(4L, 4L)))
    // the default keeps every posting — identical to the untruncated index
    val full = TextFunctions.bm25IndexFrom(posts, maxDfPpm = 1000000L)
    val dflt = TextFunctions.bm25IndexFrom(posts, 1000000L, Long.MaxValue)
    assert(full.exceptAll(dflt).count() == 0 && dflt.exceptAll(full).count() == 0)
  }

  test("bm25 incremental index: append == rebuild, replay is a no-op, elision un-elides") {
    import graft.functions.TextFunctions
    // 'hot' sits in 2/3 base docs (df 666667 ppm > 500000 → ELIDED in a
    // base-only index); the batch adds 2 docs without it → 2/5 =
    // 400000 ppm ≤ bar, so the appended index MUST carry hot's
    // postings — the case that proves the store keeps un-elided rows
    val base = Seq((1L, "hot alpha beta"), (2L, "hot gamma delta"),
      (3L, "epsilon zeta eta")).toDF("doc_id", "text")
    val batch = Seq((4L, "theta iota kappa"), (5L, "lambda mu nu"),
      (2L, "REPLAYED text must be ignored")).toDF("doc_id", "text")
    val standing = TextFunctions.bm25Postings(base, "doc_id", "text")
    assert(TextFunctions.bm25IndexFrom(standing)
      .filter(col("term") === "hot").count() == 0, "sanity: elided in base")
    val inc = TextFunctions.bm25IndexAppend(standing, batch, "doc_id", "text")
    val rebuild = TextFunctions.bm25Index(
      base.unionByName(batch.filter(col("doc_id") =!= 2L)), "doc_id", "text")
    assert(inc.exceptAll(rebuild).count() == 0 &&
      rebuild.exceptAll(inc).count() == 0, "incremental == from-scratch")
    assert(inc.filter(col("term") === "hot").count() == 2, "un-elided after append")
    // doc 2 keeps its FIRST postings (replay dropped whole): dl stays 3
    // and no 'replayed' term appears
    assert(inc.filter(col("term") === "replayed").count() == 0)
    assert(rows(inc.filter(col("did") === 2L).select(col("dl")).distinct())
      == Seq(Seq(3L)))
    // replaying the SAME batch over the appended store is a no-op
    val store2 = TextFunctions.bm25PostingsAppend(
      TextFunctions.bm25PostingsAppend(standing, batch, "doc_id", "text"),
      batch, "doc_id", "text")
    val once = TextFunctions.bm25IndexFrom(store2)
    assert(once.exceptAll(inc).count() == 0 && inc.exceptAll(once).count() == 0)
  }

  test("bm25 maintained stats: delta fold == re-derive, stats-served index == rebuild, bounded serve default") {
    import graft.functions.TextFunctions
    val base = Seq((1L, "hot alpha beta"), (2L, "hot gamma delta"),
      (3L, "epsilon zeta eta")).toDF("doc_id", "text")
    val batch = Seq((4L, "theta iota kappa alpha"), (5L, "lambda mu nu"),
      (2L, "REPLAYED text must be ignored")).toDF("doc_id", "text")
    val standing = TextFunctions.bm25Postings(base, "doc_id", "text")
    val delta = TextFunctions.bm25PostingsDelta(standing, batch,
      "doc_id", "text")
    // the O(batch + vocab) fold must equal the from-scratch stats of
    // the union — component by component (df full-outer sum covers new
    // terms, kept terms AND incremented terms; corpus scalars add)
    val folded = TextFunctions.bm25StatsAppend(
      TextFunctions.bm25StatsOf(standing), delta)
    val union = standing.unionByName(delta)
    val rederived = TextFunctions.bm25StatsOf(union)
    for ((a, b) <- Seq(folded.docLens -> rederived.docLens,
        folded.termDf -> rederived.termDf,
        folded.corpus -> rederived.corpus))
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // the stats-served index (maintained parts, no O(store) aggregate)
    // must equal the re-derived serve — the t43 gate law in miniature
    val served = TextFunctions.bm25IndexFromStats(union, folded)
    val rebuilt = TextFunctions.bm25IndexFrom(union)
    assert(served.exceptAll(rebuilt).count() == 0 &&
      rebuilt.exceptAll(served).count() == 0)
    // 'alpha' went 1 → 2 docs through the fold: the incremented-df case
    assert(rows(folded.termDf.filter(col("term") === "alpha")
      .select(col("df"))) == Seq(Seq(2L)))
    // the PRODUCTION serve surface is bounded by default at the priced
    // recall point; the exact gates opt into unboundedness explicitly
    assert(TextFunctions.ServeMaxPostings == 1000L)
    val posts = TextFunctions.bm25Postings(
      docs.unionByName(docs.select((col("doc_id") + 100).as("doc_id"),
        col("text"))),
      "doc_id", "text")
    val bounded = TextFunctions.bm25ServeIndex(posts, maxDfPpm = 1000000L,
      maxPostings = 2L)
    assert(bounded.groupBy(col("term")).count()
      .filter(col("count") > 2L).count() == 0, "serve bound caps postings")
    val dflt = TextFunctions.bm25ServeIndex(posts, maxDfPpm = 1000000L)
    val explicit = TextFunctions.bm25IndexFrom(posts, 1000000L,
      TextFunctions.ServeMaxPostings)
    assert(dflt.exceptAll(explicit).count() == 0 &&
      explicit.exceptAll(dflt).count() == 0, "default == priced bound")
  }

  test("hard negatives: the top BM25 hit that is a near-dup of the query is vetoed") {
    import graft.functions.{Dedup, TextFunctions}
    // query 100 and corpus doc 1 are exact dups — BM25 ranks doc 1 top
    // (identical text = maximal term overlap), the d2 pair set vetoes
    // it, and the hard negative must be the best NON-dup doc
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // exact dup of the query
      (2L, "alpha beta gamma other words here"),     // topical but not a near-dup
      (3L, "completely unrelated vocabulary entirely tokens"),
    ).toDF("doc_id", "text")
    val queries = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val cand = TextFunctions.bm25TopK(corpus, queries, "doc_id", "text",
      k = 3, maxDfPpm = 1000000L)
    val top = rows(cand.filter(col("rank") === 1).select(col("did"))).head.head
    assert(top == 1L, s"sanity: the dup should rank first, got $top")
    val dup = Dedup.lshCandidates(corpus.unionByName(queries), "doc_id", "text")
      .filter(col("estJaccard") >= 0.5)
    val excl = dup.filter(col("id2") === 100L)
      .select(col("id2").as("qid"), col("id1").as("did"))
      .unionByName(dup.filter(col("id1") === 100L)
        .select(col("id1").as("qid"), col("id2").as("did")))
    val mined = rows(cand.join(excl, Seq("qid", "did"), "left_anti")
      .orderBy(col("score").desc, col("did")).select(col("did")))
      .map(_.head)
    assert(mined.head == 2L, s"hard negative must skip the dup: $mined")
    assert(!mined.contains(1L))
  }

  test("d18 serve-vs-batch agreement: every verdict class consistent with the full pair set") {
    // the gate entry's agree contract on a corpus exercising all three
    // verdicts: 3 (batch) dups standing 2 → near_dup; 9 dups batch 6
    // only → 9 near_dup_in_batch, 6 unique-with-larger-partner (the
    // designed first-seen-wins divergence: batchMinNbr=9 > 6); 12 truly
    // alone → unique with NULL partner
    val c = Seq(
      (2L, "the quick brown fox jumps over the lazy dog"),      // standing
      (3L, "the quick brown fox jumps over the lazy dog"),      // batch, dup of 2
      (6L, "fresh novel content never seen by anyone before"),  // batch keeper
      (9L, "fresh novel content never seen by anyone before"),  // batch, dup of 6
      (12L, "completely different words entirely here now friends"), // batch alone
      (14L, "unrelated standing payload with its own vocabulary tokens"),
    ).toDF("doc_id", "text")
    val served = Dedup.incrementalLsh(
      c.filter(col("doc_id") % 3 =!= 0L), c.filter(col("doc_id") % 3 === 0L),
      "doc_id", "text")
    val pairs = Dedup.lshCandidates(c, "doc_id", "text")
      .filter(col("estJaccard") >= 0.5)
    val nbrs = pairs.select(col("id1").as("doc_id"), col("id2").as("nbr"))
      .unionByName(pairs.select(col("id2").as("doc_id"), col("id1").as("nbr")))
      .groupBy(col("doc_id")).agg(min(col("nbr")).as("batchMinNbr"))
    val out = rows(served.join(nbrs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("status"), col("batchMinNbr"))
      .orderBy(col("doc_id")))
    assert(out == Seq(
      Seq(3L, "near_dup", 2L),
      Seq(6L, "unique", 9L),             // partner exists but is LARGER
      Seq(9L, "near_dup_in_batch", 6L),
      Seq(12L, "unique", null)), s"got $out")
    // the contract itself: non-unique => partner exists; unique =>
    // partner NULL or larger (exactly the gate entry's agree column)
    assert(out.forall { r =>
      if (r(1) != "unique") r(2) != null
      else r(2) == null || r(2).asInstanceOf[Long] > r.head.asInstanceOf[Long]
    })
  }

  test("incremental LSH maxBucket caps both the corpus melt and the batch self-join") {
    // mega-bucket on BOTH sides: boilerplate in the standing corpus AND a
    // burst of it in the batch; the cap must kill both quadratic joins
    // while the genuine pair still classifies
    val existing = ((100L to 139L).map(i => (i, "identical boilerplate text repeated across the corpus many times")) :+
      (1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val batch = ((200L to 239L).map(i => (i, "identical boilerplate text repeated across the corpus many times")) :+
      (300L, "the quick brown fox jumps over the lazy cat")).toDF("doc_id", "text")
    val capped = rows(Dedup.incrementalLsh(existing, batch, "doc_id", "text",
        minEst = 0.25, maxBucket = 10)
      .select(col("doc_id"), col("status"), col("matchId")))
      .map(r => r.head.asInstanceOf[Long] -> ((r(1), r(2)))).toMap
    assert(capped(300L) == (("near_dup", 1L)), "discriminating pair survives the cap")
    assert((200L to 239L).forall(i => capped(i) == (("unique", null))),
      "mega-bucket batch rows classify unique under the cap (no quadratic join)")
  }

  test("ngramRows generalizes shingles: bigrams and unigrams") {
    val one = Seq((1L, "a b c")).toDF("doc_id", "text")
    val bi = rows(Dedup.ngramRows(one, "doc_id", "text", 2).select(col("shingle")))
      .map(_.head)
    assert(bi == Seq("a b", "b c"))
    val uni = rows(Dedup.ngramRows(one, "doc_id", "text", 1).select(col("shingle")))
      .map(_.head)
    assert(uni == Seq("a", "b", "c"))
  }

  test("bigramBackoff: stupid-backoff ladder — seen, unigram-backoff, OOV-zero") {
    // train "a b a c a b": cab = {(a,b)→2, (b,a)→1, (a,c)→1, (c,a)→1};
    // unigrams a=3 b=2 c=1; N=6
    val train = Seq((1L, "a b a c a b")).toDF("doc_id", "text")
    val ev = Seq((10L, "a b c z b"), (11L, "a")).toDF("doc_id", "text")
    // eval bigrams: (a,b) seen → 2000000 DIV 3 = 666666;
    // (b,c) backoff via c(c)=1 → 400000 DIV 6 = 66666;
    // (c,z) backoff, z unseen → 0; (z,b) backoff via c(b)=2 → 133333.
    // doc 11 has one token → no bigrams → absent, like the melt.
    val out = rows(TextFunctions.bigramBackoff(train, ev, "doc_id", "text")
      .orderBy(col("doc_id")))
    assert(out == Seq(Seq(10L, 4L, 666666L + 66666L + 0L + 133333L, 3L,
      866665.0 / 4)))
  }

  test("repetitionSignals: line stats, top-gram pick, overlap-once coverage") {
    val pages = Seq(
      // "a a" ×4 of 9 bigrams → top2 = 0.8; no duplicated 5-gram;
      // lines: one dup "z z" of 3 → 1/3, chars 3 of 17
      (1L, "a a a a a b\nz z\nz z"),
      // two identical 8-token lines: every 5..8-gram duplicates with
      // period 8 → union covers ALL 16 tokens (overlap counted once);
      // 9/10-grams span past the period → no duplicates at all
      (2L, "p q r s t u v w\np q r s t u v w"),
      // 26 distinct tokens: top-gram counts are all 1 and 4/26 ≤ 0.16,
      // so the published conjunction passes
      (3L, (1 to 26).map(i => f"w$i%02d").mkString(" ")),
    ).toDF("doc_id", "page")
    val out = rows(TextFunctions.repetitionSignals(pages, "doc_id", "page")
      .select(col("doc_id"), col("nTok"), col("nLines"), col("dupLineFrac"),
        col("dupLineCharFrac"), col("top2Frac"), col("dup5Frac"),
        col("dup8Frac"), col("dup9Frac"), col("keep"))
      .orderBy(col("doc_id")))
    assert(out == Seq(
      Seq(1L, 10L, 3L, 1.0 / 3, 3.0 / 17, 0.8, 0.0, 0.0, 0.0, false),
      Seq(2L, 16L, 2L, 0.5, 0.5, 0.25, 1.0, 1.0, 0.0, false),
      Seq(3L, 26L, 1L, 0.0, 0.0, 2.0 / 26, 0.0, 0.0, 0.0, true)))
  }

  test("nbClassifier: hand-computed floor-log2 LLR, sign gate, OOV-neutral") {
    // pos melt: good×2, great, good_great, great_good → tp = 5
    // neg melt: bad×2, awful, bad_awful, awful_bad → tn = 5
    // bl(tp+4096) = bl(tn+4096) = bl(4101) = 13 → the class-total
    // constants cancel per occurrence. (All ten fixture features land in
    // distinct md5 buckets — checked offline.)
    val pos = Seq((1L, "good great good")).toDF("doc_id", "text")
    val neg = Seq((2L, "bad awful bad")).toDF("doc_id", "text")
    val probe = Seq(
      (10L, "good good"), // w(good)=bl(3)−bl(1)=1 ×2; w(good_good)=0 → +2
      (11L, "bad"),       // w(bad)=bl(1)−bl(3)=−1 → −1
      (12L, "neutral"),   // OOV: bl(1)−bl(1)=0 → 0, keep=false (not >0)
      (13L, ""),          // token-less → drops out with the melt
    ).toDF("doc_id", "text")
    val out = rows(TextFunctions.nbClassifier(pos, neg, probe,
      "doc_id", "text").orderBy(col("doc_id")))
    assert(out == Seq(
      Seq(10L, 3L, 2L, true),
      Seq(11L, 1L, -1L, false),
      Seq(12L, 1L, 0L, false)))
    // prebuilt-model path scores identically (the streaming-twin form)
    val model = TextFunctions.nbTrain(pos, neg, "doc_id", "text")
    val again = rows(TextFunctions.nbScoreAgainst(model, probe,
      "doc_id", "text").orderBy(col("doc_id")))
    assert(again == out)
  }

  test("temperatureMix: exact isqrt, α=1/2 budgets flatten the source distribution") {
    import graft.functions.Shuffles
    // isqrt exactness: boundaries, perfect squares, ±1 neighbours, and
    // the large range where double sqrt starts rounding
    for (n <- Seq(0L, 1L, 2L, 3L, 4L, 8L, 9L, 10L, 99L, 100L,
        (1L << 31) * (1L << 31) - 1, (1L << 31) * (1L << 31),
        4503599627370495L /* 2^52-1 */, 999999999999999999L)) {
      val s = Shuffles.isqrt(n)
      assert(s * s <= n && (s + 1) * (s + 1) > n, s"isqrt($n) = $s")
    }
    // budgets: w = isqrt(tokens), b = total·w DIV Σw — and the α=1/2
    // FLATTENING law: the big source's budget share sits strictly
    // between the uniform share and its proportional share
    val totals = Map("big" -> 90000L, "small" -> 10000L)
    val b = Shuffles.temperatureBudgets(totals, 1000L)
    assert(b == Map("big" -> 750L, "small" -> 250L)) // 300/(300+100), 100/400
    assert(b("big") < 900L && b("big") > 500L)
    // the sampled mix keeps at least one doc per positive-budget source
    val d = ((1 to 90).map(i => (i.toLong, "big", 1000L)) ++
      (91 to 100).map(i => (i.toLong, "small", 1000L)))
      .toDF("doc_id", "src", "tok")
    val kept = Shuffles.temperatureMix(d, "doc_id", "src", "tok",
        totalBudget = 1000L, nShards = 4)
      .filter(col("keep")).groupBy(col("src")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.keySet == Set("big", "small") && kept.values.forall(_ >= 1))
  }

  test("temperatureMixAlpha: irootPow exact, α=1/2 ≡ isqrt budgets, lower α flattens harder") {
    import graft.functions.Shuffles
    // irootPow exactness across exponents, boundaries and rounding-prone
    // magnitudes: w is THE floor iff w^q ≤ n^p < (w+1)^q (BigInt check)
    for (n <- Seq(0L, 1L, 2L, 7L, 8L, 9L, 999L, 1000L, 1024L,
                  999999999999L, 4398046511103L /* 2^42−1 */);
         (p, q) <- Seq((1, 2), (3, 10), (7, 10), (1, 3), (2, 3))) {
      val w = Shuffles.irootPow(n, p, q)
      val np = BigInt(n).pow(p)
      assert(BigInt(w).pow(q) <= np && BigInt(w + 1).pow(q) > np,
        s"irootPow($n, $p/$q) = $w")
    }
    // α = 1/2 via irootPow IS temperatureBudgets — same map, any totals
    val totals = Map("en" -> 987654321L, "es" -> 54321L, "de" -> 17L)
    assert(Shuffles.temperatureBudgetsAlpha(totals, 123456L, 1, 2) ==
      Shuffles.temperatureBudgets(totals, 123456L))
    // flattening is monotone in α: at α = 3/10 the big source's share
    // drops below its α = 1/2 share, which is below proportional
    val big = Map("big" -> 1000000L, "small" -> 1000L)
    val half = Shuffles.temperatureBudgetsAlpha(big, 10000L, 1, 2)
    val a03 = Shuffles.temperatureBudgetsAlpha(big, 10000L, 3, 10)
    assert(a03("big") < half("big") && half("big") < 9990L,
      s"α=0.3 $a03 must flatten harder than α=1/2 $half")
  }

  test("scalacheck: irootPow is THE integer floor of n^(p/q) for random n and published exponents") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.functions.Shuffles
    val params = SCTest.Parameters.default.withMinSuccessfulTests(500)
    val exps = Gen.oneOf((1, 2), (3, 10), (7, 10), (1, 3), (2, 3), (9, 10))
    val prop = Prop.forAll(Gen.chooseNum(0L, 1L << 50), exps) {
      case (n, (p, q)) =>
        val w = Shuffles.irootPow(n, p, q)
        val np = BigInt(n).pow(p)
        w >= 0 && BigInt(w).pow(q) <= np && BigInt(w + 1).pow(q) > np
    }
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
    // a sharpening exponent (p > q) would saturate the double seed and
    // walk the correction loop from Long.MaxValue — must fail loudly
    intercept[IllegalArgumentException] {
      graft.functions.Shuffles.irootPow(1L << 40, 3, 2)
    }
  }

  test("epochMix: full epochs + remainder admission; sub-size budget degenerates to budgetedMix") {
    import graft.functions.Shuffles
    // source "a": 30 docs × 10 tok = 300; budget 750 → 2 full epochs +
    // 150-token remainder. source "b": budget 40 < 200 → 0 epochs, plain
    // admission. source "c": unbudgeted → dropped entirely.
    val d = ((1L to 30L).map(i => (i, "a", 10L)) ++
      (31L to 50L).map(i => (i, "b", 10L)) ++
      (51L to 55L).map(i => (i, "c", 10L)))
      .toDF("doc_id", "src", "tok")
    val budgets = Map("a" -> 750L, "b" -> 40L)
    val out = Shuffles.epochMix(d, "doc_id", "src", "tok", budgets, nShards = 2)
      .localCheckpoint()
    val bySrc = out.groupBy(col("src"))
      .agg(max(col("fullEpochs")).as("fe"), min(col("fullEpochs")).as("feMin"),
        sum(when(col("keep"), col("tok")).otherwise(0L)).as("remTok"),
        sum(col("totalEpochs") * col("tok")).as("served"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (feA, feMinA, remA, servedA) = bySrc("a")
    assert(feA == 2L && feMinA == 2L, s"a: 750/300 = 2 full epochs, got $feA")
    // remainder ledger: 150 target, ≤ nShards straddlers of 10 tok each,
    // and servedTokens = fullEpochs·n + remTokens exactly
    assert(remA >= 150L && remA <= 150L + 2 * 10L, s"a remainder $remA")
    assert(servedA == 2L * 300L + remA)
    val (feB, _, remB, servedB) = bySrc("b")
    assert(feB == 0L && remB >= 40L && remB <= 40L + 2 * 10L
      && servedB == remB)
    // sub-size budget ≡ budgetedMix: same kept set, same salt
    val plain = Shuffles.budgetedMix(d.filter(col("src") === "b"), "doc_id",
        "src", "tok", Map("b" -> 40L), nShards = 2, salt = "epochmix0")
      .filter(col("keep")).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val epochB = out.filter(col("src") === "b" && col("keep"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(plain == epochB)
    val (feC, _, remC, servedC) = bySrc("c")
    assert(feC == 0L && remC == 0L && servedC == 0L, "unbudgeted source serves nothing")
  }

  test("curriculumMix: per-stage budgets and fresh per-stage permutations; one admission pass") {
    import graft.functions.Shuffles
    val d = ((1L to 40L).map(i => (i, "a", 10L)) ++
      (41L to 60L).map(i => (i, "b", 10L)) ++
      (61L to 65L).map(i => (i, "c", 10L)))
      .toDF("doc_id", "src", "tok")
    val stages = Seq(
      "warm" -> Map("a" -> 100L, "b" -> 100L),
      "anneal" -> Map("a" -> 300L)) // b dropped, c never budgeted
    val out = Shuffles.curriculumMix(d, "doc_id", "src", "tok", stages,
      nShards = 2).localCheckpoint()
    // every doc appears once per stage
    assert(out.count() == 65L * 2)
    val kept = out.filter(col("keep"))
      .groupBy(col("stage"), col("src"))
      .agg(sum(col("tok")).as("kt"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // ledger bounds per (stage, source): ≥ budget, ≤ budget + nShards
    // straddlers of 10 tok
    assert(kept(("warm", "a"))._1 >= 100L && kept(("warm", "a"))._1 <= 120L)
    assert(kept(("warm", "b"))._1 >= 100L && kept(("warm", "b"))._1 <= 120L)
    assert(kept(("anneal", "a"))._1 >= 300L && kept(("anneal", "a"))._1 <= 320L)
    // unbudgeted (stage, source) pairs keep nothing
    assert(!kept.contains(("anneal", "b")) && !kept.contains(("warm", "c"))
      && !kept.contains(("anneal", "c")))
    // fresh permutation per stage: same source+same budget would pick a
    // different prefix — check via the hash key itself (stage in input)
    val warmSet = out.filter(col("stage") === "warm" && col("src") === "a"
      && col("keep")).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val annealFirst = out.filter(col("stage") === "anneal" && col("src") === "a")
      .orderBy(col("hkey"), col("doc_id")).limit(10)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val warmFirst = out.filter(col("stage") === "warm" && col("src") === "a")
      .orderBy(col("hkey"), col("doc_id")).limit(10)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(warmFirst != annealFirst,
      "stage must fold into the hash: admission orders differ")
    assert(warmSet.nonEmpty)
    // single stage with t13's budgets: the ledger bound matches
    // budgetedMix's (same rule, stage-salted permutation)
    val one = Shuffles.curriculumMix(d, "doc_id", "src", "tok",
      Seq("only" -> Map("a" -> 100L)), nShards = 2)
      .filter(col("keep")).agg(sum(col("tok"))).collect()(0).getLong(0)
    assert(one >= 100L && one <= 120L)
    // validation: duplicate stage names and negative budgets fail loudly
    intercept[IllegalArgumentException] {
      Shuffles.curriculumMix(d, "doc_id", "src", "tok",
        Seq("s" -> Map("a" -> 1L), "s" -> Map("a" -> 2L)), nShards = 2)
    }
    intercept[IllegalArgumentException] {
      Shuffles.curriculumMix(d, "doc_id", "src", "tok",
        Seq("s" -> Map("a" -> -1L)), nShards = 2)
    }
  }

  test("epochExpand: (doc, epoch) rows conserve servedTokens; per-epoch permutations are fresh") {
    import graft.functions.Shuffles
    val d = ((1L to 30L).map(i => (i, "a", 10L)) ++
      (31L to 50L).map(i => (i, "b", 10L)))
      .toDF("doc_id", "src", "tok")
    val budgets = Map("a" -> 750L, "b" -> 40L)
    val mixed = Shuffles.epochMix(d, "doc_id", "src", "tok", budgets,
      nShards = 2).localCheckpoint()
    val exp = Shuffles.epochExpand(mixed, "doc_id", nShards = 2)
      .localCheckpoint()
    // token conservation: Σ over (doc, epoch) rows per source equals the
    // epochMix servedTokens ledger exactly
    val served = mixed.groupBy(col("src"))
      .agg(sum(col("totalEpochs") * col("tok")).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expanded = exp.groupBy(col("src")).agg(sum(col("tok")).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(expanded == served, s"$expanded vs $served")
    // row multiplicity: doc i appears exactly totalEpochs(i) times, with
    // epochs 1..totalEpochs(i) each once
    val mult = exp.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), max(col("epoch")).as("mx"),
        countDistinct(col("epoch")).as("nd"))
    assert(mult.filter(col("n") =!= col("mx") || col("n") =!= col("nd"))
      .count() == 0)
    // full-epoch membership: every source-"a" doc is in epochs 1 and 2
    assert(exp.filter(col("src") === "a" && col("epoch") <= 2).count() == 60L)
    // per-epoch reshuffle: epoch 1 and epoch 2 hold the same 30 docs but
    // in different (eshard, epos) order — the per-epoch salt is real
    val ord = (e: Int) => exp.filter(col("src") === "a" && col("epoch") === e)
      .orderBy(col("eshard"), col("epos"))
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(ord(1).sorted == ord(2).sorted && ord(1) != ord(2),
      "epochs must permute the same docs differently")
    // epos ranks are contiguous 1..|shard| inside every (epoch, eshard)
    val ranks = exp.groupBy(col("epoch"), col("eshard"))
      .agg(count(lit(1)).as("n"), max(col("epos")).as("mx"),
        min(col("epos")).as("mn"))
    assert(ranks.filter(col("mn") =!= 1L || col("mx") =!= col("n"))
      .count() == 0)
  }

  test("langIdModel: 3-language fixture where the model overrules the stopword heuristic") {
    // Training corpora: the "en" slice is English ABOUT German (it uses
    // der/die/das/und/ist heavily, as quoted words); the "de" slice is
    // German content words with few articles; "es" is the Spanish set.
    // The probe doc is all German function words — the stopword
    // heuristic (langId) fires "de" on its fixed stopword set, while the
    // trained model has seen those exact tokens mostly in the EN slice
    // and classifies "en": the model-vs-heuristic disagreement the
    // fastText-langid shape exists to fix.
    val en = Seq(
      (1L, "the words der die das und ist are german articles and verbs"),
      (2L, "der die das appear in the guide and der die das und ist again"),
    ).toDF("doc_id", "text")
    val de = Seq(
      (3L, "hund katze haus baum wald berg fluss stein vogel blume"),
      (4L, "hund haus katze wald baum vogel berg blume stein fluss"),
    ).toDF("doc_id", "text")
    val es = Seq(
      (5L, "tabla fila datos consulta columna indice registro valor"),
    ).toDF("doc_id", "text")
    val probe = Seq((10L, "der die das und ist")).toDF("doc_id", "text")
    val heuristic = probe.select(TextFunctions.langId(col("text")))
      .collect().head.getString(0)
    assert(heuristic == "de")
    val model = TextFunctions.nbTrainMulti(
      Seq("de" -> de, "en" -> en, "es" -> es), "doc_id", "text")
    val out = TextFunctions.langIdAgainst(model, probe, "doc_id", "text")
      .collect().head
    assert(out.getAs[String]("lang") == "en") // disagrees with the heuristic
    assert(out.getAs[Long]("nFeats") == 9L)   // 5 unigrams + 4 bigrams
    // tie-break law: identical training slices for two labels → every
    // score ties → the label-ascending pick, deterministically
    val tied = TextFunctions.langIdAgainst(
      TextFunctions.nbTrainMulti(Seq("zz" -> en, "aa" -> en), "doc_id", "text"),
      probe, "doc_id", "text").collect().head
    assert(tied.getAs[String]("lang") == "aa")
    // token-less docs drop out with the melt (no evidence, no argmax)
    assert(TextFunctions.langIdAgainst(model,
      Seq((11L, "")).toDF("doc_id", "text"), "doc_id", "text").count() == 0)
  }

  test("dsirSelectGumbel: fixed-point Gumbel matches a reference transcription; pick = brute top-k") {
    // reference transcription of gumbelFromR(gumbelR(…)) in plain Scala
    def l2fx(x: Long): Long = {
      val b = 64 - java.lang.Long.numberOfLeadingZeros(x)
      (b - 1).toLong * 1048576L + (((x & ((1L << (b - 1)) - 1)) << 20) >> (b - 1))
    }
    def gRef(id: Long, salt: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id$salt".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val r = java.lang.Long.parseLong(hex, 16) % ((1L << 32) - 1) + 1
      20L * 1048576L - l2fx(32L * 1048576L - l2fx(r))
    }
    val ids = (1L to 64L).map(Tuple1(_)).toDF("doc_id")
    val spark = ids.select(col("doc_id"),
      TextFunctions.gumbelFromR(TextFunctions.gumbelR(col("doc_id"), "dsir0")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 64L).foreach(i => assert(spark(i) == gRef(i, "dsir0"), s"id $i"))
    // Gumbel shape: right-heavy support around 0 (bounded by the
    // 32-bit u quantization: g ∈ [−5S, 20S])
    assert(spark.values.min >= -5L * 1048576L && spark.values.max <= 20L * 1048576L)
    // the pick IS the brute top-k of weight·S + g, and a new salt is a
    // different resample epoch while the same salt replays exactly
    val target = Seq((1L, "good good good")).toDF("doc_id", "text")
    val raw = (10L to 40L).map(i =>
      (i, if (i % 3 == 0) "good good" else if (i % 3 == 1) "good" else "meh"))
      .toDF("doc_id", "text")
    val out = TextFunctions.dsirSelectGumbel(target, raw, "doc_id", "text",
      k = 7L).collect()
    val picked = out.filter(_.getAs[Boolean]("picked")).map(_.getLong(0)).toSet
    val brute = out.sortBy(r => (-r.getAs[Long]("gkey"), r.getLong(0)))
      .take(7).map(_.getLong(0)).toSet
    assert(picked == brute)
    assert(out.forall(r => r.getAs[Long]("gkey") ==
      r.getAs[Long]("weight") * 1048576L + r.getAs[Long]("gumbel")))
    val again = TextFunctions.dsirSelectGumbel(target, raw, "doc_id", "text",
      k = 7L).collect().filter(_.getAs[Boolean]("picked")).map(_.getLong(0)).toSet
    assert(again == picked) // same salt → bit-reproducible
    val epoch2 = TextFunctions.dsirSelectGumbel(target, raw, "doc_id", "text",
      k = 7L, salt = "dsir1").collect()
      .filter(_.getAs[Boolean]("picked")).map(_.getLong(0)).toSet
    assert(epoch2 != picked) // fresh salt → fresh resample (checked offline)
  }

  test("dsirSelect: top-k by importance, id tie-break through the rank refinement") {
    // target melt: good×3 + good_good×2 → tp = 5; raw melt: good×4 +
    // good_good + meh → tn = 6; bl(4101) = bl(4102) = 13 → constants
    // cancel. w(good) = bl(4)−bl(5) = 0, w(good_good) = bl(3)−bl(2) = 0,
    // w(meh) = bl(1)−bl(2) = −1 → docs 10/11/12 THREE-way tie at 0,
    // doc 13 at −1. k=2: cutoff 0, nothing strictly above, the tie set
    // owes both picks → id refinement keeps 10 and 11.
    val target = Seq((1L, "good good good")).toDF("doc_id", "text")
    val raw = Seq((10L, "good good"), (11L, "good"), (12L, "good"),
      (13L, "meh")).toDF("doc_id", "text")
    val out = rows(TextFunctions.dsirSelect(target, raw, "doc_id", "text",
      k = 2L).orderBy(col("doc_id")))
    assert(out == Seq(
      Seq(10L, 3L, 0L, true),
      Seq(11L, 1L, 0L, true),
      Seq(12L, 1L, 0L, false),
      Seq(13L, 1L, -1L, false)))
  }

  test("bigramPairs: short texts produce an empty melt, not a descending one") {
    val d = Seq((1L, "solo"), (2L, ""), (3L, "two words")).toDF("doc_id", "text")
    val out = rows(d.select(col("doc_id"),
      size(TextFunctions.bigramPairsOf(TextFunctions.tokens(col("text")))).as("n")).orderBy(col("doc_id")))
    assert(out == Seq(Seq(1L, 0), Seq(2L, 0), Seq(3L, 1)))
  }

  test("exactLongRanks equals the sorted-order pick: duplicates, ties, odd bases") {
    // deterministic value set with heavy duplication and a wide range
    val vals = (1 to 500).map(i => ((i * 7919L) % 97) * 1000003L + i % 3)
    val df = vals.map(Tuple1(_)).toDF("v")
    val sorted = vals.sorted
    val ranks = Seq(1L, 167L, 334L, 500L, 250L)
    for (base <- Seq(2L, 10L, 1024L)) {
      val got = graft.functions.Sketches.exactLongRanks(df, "v", ranks, base)
      ranks.foreach { r =>
        assert(got(r) == sorted((r - 1).toInt),
          s"rank $r base $base: got ${got(r)}, want ${sorted((r - 1).toInt)}")
      }
    }
    // single-value edge and full-duplicate edge
    val dup = Seq.fill(9)(42L).map(Tuple1(_)).toDF("v")
    assert(graft.functions.Sketches.exactLongRanks(dup, "v", Seq(1L, 5L, 9L))
      == Map(1L -> 42L, 5L -> 42L, 9L -> 42L))
  }

  test("exactLongRanks survives a span near Long.MaxValue (width-freeze overflow guard)") {
    // mx - mn + 1 used to overflow negative, freezing width at 1 and
    // collecting one bin per distinct value; the span-based condition
    // keeps the level-1 histogram <= base bins at any span
    val vals = Seq(0L, 3L, 1L << 40, Long.MaxValue - 2, Long.MaxValue)
    val sorted = vals.sorted
    for (base <- Seq(2L, 1024L)) {
      val got = graft.functions.Sketches.exactLongRanks(
        vals.map(Tuple1(_)).toDF("v"), "v", Seq(1L, 3L, 5L), base)
      assert(got == Map(1L -> sorted(0), 3L -> sorted(2), 5L -> sorted(4)),
        s"base $base: $got")
    }
  }

  test("exactLongRanks property: random multisets, random ranks, random bases") {
    val rng = new scala.util.Random(20260815L)
    for (round <- 1 to 5) {
      val n = 50 + rng.nextInt(300)
      // mixed regimes: tight duplicate-heavy ranges and sparse wide ones
      val span = if (round % 2 == 0) 10L else 1L << (20 + rng.nextInt(20))
      val vals = Seq.fill(n)(math.abs(rng.nextLong()) % span)
      val sorted = vals.sorted
      val ranks = Seq.fill(4)(1L + rng.nextInt(n)).distinct
      val base = Seq(2L, 7L, 64L, 1024L)(rng.nextInt(4))
      val got = graft.functions.Sketches.exactLongRanks(
        vals.map(Tuple1(_)).toDF("v"), "v", ranks, base)
      ranks.foreach { r =>
        assert(got(r) == sorted((r - 1).toInt),
          s"round $round base $base span $span rank $r: " +
            s"got ${got(r)}, want ${sorted((r - 1).toInt)}")
      }
    }
  }

  test("dsirSelect property: picked set equals the sorted top-k on random corpora") {
    val rng = new scala.util.Random(20260815L)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    def doc() = Seq.fill(3 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size)))
      .mkString(" ")
    for (round <- 1 to 3) {
      val target = (1L to 5L).map(i => (i, doc())).toDF("doc_id", "text")
      val n = 30 + rng.nextInt(40)
      val raw = (100L until (100L + n)).map(i => (i, doc()))
        .toDF("doc_id", "text")
      val k = 1 + rng.nextInt(n)
      val out = rows(TextFunctions.dsirSelect(target, raw, "doc_id", "text",
        k.toLong).select(col("doc_id"), col("weight"), col("picked")))
      // brute truth: sort by (weight desc, id asc), take k
      val want = out.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
        .sortBy { case (id, w) => (-w, id) }.take(k).map(_._1).toSet
      val got = out.filter(_(2) == true).map(_.head.asInstanceOf[Long]).toSet
      assert(got == want, s"round $round k $k: got $got want $want")
    }
  }

  test("repetitionSignals property: coverage equals the brute position-set size") {
    val rng = new scala.util.Random(20260815L)
    val vocab = Vector("a", "b", "c", "d")
    for (round <- 1 to 3) {
      val docs = (1L to 8L).map { id =>
        (id, Seq.fill(12 + rng.nextInt(30))(vocab(rng.nextInt(vocab.size)))
          .mkString(" "))
      }
      val out = rows(TextFunctions.repetitionSignals(
        docs.toDF("doc_id", "page"), "doc_id", "page")
        .select(col("doc_id"), col("nTok"), col("dup5Frac"), col("dup7Frac"))
        .orderBy(col("doc_id")))
      // brute truth: positions covered by any n-gram occurring > once
      def brute(toks: Array[String], n: Int): Double = {
        val grams = toks.sliding(n).map(_.mkString(" ")).toArray
        val cnt = grams.groupBy(identity).view.mapValues(_.length).toMap
        val covered = grams.indices
          .filter(p => cnt(grams(p)) >= 2)
          .flatMap(p => p until (p + n)).toSet.size
        covered.toDouble / toks.length
      }
      docs.zip(out).foreach { case ((id, text), row) =>
        val toks = text.split(" ")
        assert(row(2) == brute(toks, 5) && row(3) == brute(toks, 7),
          s"round $round doc $id: got $row, " +
            s"want ${brute(toks, 5)}/${brute(toks, 7)}")
      }
    }
  }

  test("distributionDrift property: tvd_ppm equals the brute half-L1 in ppm") {
    val rng = new scala.util.Random(20260815L)
    for (round <- 1 to 3) {
      val a = Seq.fill(40 + rng.nextInt(60))(rng.nextInt(200).toLong)
      val b = Seq.fill(40 + rng.nextInt(60))(rng.nextInt(200).toLong)
      val out = rows(graft.analytics.TableChecks.distributionDrift(
        a.map(Tuple1(_)).toDF("v"), b.map(Tuple1(_)).toDF("v"),
        "v", binWidth = 25L, maxBins = 6, thresholdPpm = 100000L)
        .select(col("tvd_ppm")).distinct())
      def hist(xs: Seq[Long]) = xs.groupBy(x => math.min(x / 25L, 5L))
        .view.mapValues(_.length.toLong).toMap
      val (ha, hb) = (hist(a), hist(b))
      val want = (ha.keySet ++ hb.keySet).toSeq.map { bin =>
        math.abs(ha.getOrElse(bin, 0L) * 1000000L / a.size -
          hb.getOrElse(bin, 0L) * 1000000L / b.size)
      }.sum / 2
      assert(out == Seq(Seq(want)), s"round $round: got $out want $want")
    }
  }

  test("pii scrub redacts emails and phones, collapses whitespace") {
    val d = Seq((1L, "Mail Bob.Smith+x@Example.COM  or +1-555-0042  now"))
      .toDF("doc_id", "text")
    val out = rows(d.select(
      TextFunctions.piiScrub(col("text")),
      TextFunctions.emailCount(col("text")),
      TextFunctions.phoneCount(col("text")))).head
    assert(out.head == "mail <email> or <phone> now")
    assert(out(1) == 1 && out(2) == 1)
  }

  test("semDedup drops within-cell near-dups, earlier id wins") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(1.0f, 0.01f, 0.0f, 0.0f)), // near-dup of 1
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f)),  // exact dup of 2
      (5L, Array(0.6f, 0.8f, 0.0f, 0.0f)),  // same cell as 2, below threshold
    ).toDF("vec_id", "embedding")
    val out = rows(Vectors.semDedup(emb, nCells = 2, iters = 1, minCosine = 0.95)
      .select(col("vec_id"), col("keep"), col("dupOf")).orderBy(col("vec_id")))
    assert(out == Seq(
      Seq(1L, true, null), Seq(2L, true, null),
      Seq(3L, false, 1L), Seq(4L, false, 2L), Seq(5L, true, null)))
  }

  test("pageText assembles deterministic decorated lines") {
    val text = (1 to 24).map(i => s"w$i").mkString(" ")
    val page = rows(Seq((2L, text)).toDF("doc_id", "text")
      .select(TextFunctions.pageTextOf(col("doc_id"), TextFunctions.tokens(col("text")))))
      .head.head.asInstanceOf[String]
    // doc_id 2, line 0: (2+0)%17=2 → bullet; 0%3=0 → terminal period
    // line 1: no bullet ((2+1)%17=3), no suffix (3%13≠5, 1%3≠0)
    val l0 = "- " + (1 to 12).map(i => s"w$i").mkString(" ") + "."
    val l1 = (13 to 24).map(i => s"w$i").mkString(" ")
    assert(page == s"$l0\n$l1")
  }

  test("pageText appends boilerplate marker lines on the fixed residues") {
    val p = rows(Seq((31L * 41L, "alpha beta")).toDF("doc_id", "text")
      .select(TextFunctions.pageTextOf(col("doc_id"), TextFunctions.tokens(col("text")))))
      .head.head.asInstanceOf[String]
    assert(p.contains("enable javascript to continue"))
    assert(p.contains("config { options }"))
    assert(!p.contains("lorem ipsum"))
  }

  test("gopherRules computes the published features exactly") {
    val pages = Seq((7L, "- the dog...\nthe with cat."))
      .toDF("doc_id", "page")
    val out = rows(TextFunctions.gopherRules(pages)).head
    // words: ["-","the","dog...","the","with","cat."] → 6
    assert(out(1) == 6L)                 // nWords
    assert(out(2) == 21.0 / 6)           // meanWordLen
    assert(out(3) == 1.0 / 6)            // symbolRatio (one ellipsis)
    assert(out(4) == 0.5)                // bulletRatio
    assert(out(5) == 0.5)                // ellipsisLineRatio
    assert(out(6) == 5.0 / 6)            // alphaRatio ("-" has no alpha)
    assert(out(7) == 2L)                 // stopHits (the, with)
    assert(out(8) == false)              // nWords < 50
  }

  test("gopherRules keep: word-count band and stopword floor bind") {
    val good = (1 to 30).flatMap(_ => Seq("the", "with")).mkString(" ") +
      " alpha beta gamma delta"               // 64 words, 2 stopwords
    val pages = Seq((1L, good), (2L, "tiny page the with"))
      .toDF("doc_id", "page")
    val out = rows(TextFunctions.gopherRules(pages)
      .select(col("doc_id"), col("keep")).orderBy(col("doc_id")))
    assert(out == Seq(Seq(1L, true), Seq(2L, false)))
  }

  test("c4Filters keeps terminal-punct ≥5-word non-js lines, drops marker pages") {
    val pages = Seq(
      (1L, "one two three four five.\nshort line.\n" +
        "no terminal punct in this line\n" +
        "the javascript line is quite long.\n" +
        "six seven eight nine ten eleven!"),
      (2L, "lorem ipsum dolor sit amet."),
      (3L, "config { x } set now ok.")).toDF("doc_id", "page")
    val out = rows(TextFunctions.c4Filters(pages)
      .select(col("doc_id"), col("nLines"), col("nKept"), col("pageDrop"),
        col("dropReason"), col("cleanText"))
      .orderBy(col("doc_id")))
    assert(out(0) == Seq(1L, 5L, 2L, false, null,
      "one two three four five.\nsix seven eight nine ten eleven!"))
    assert(out(1) == Seq(2L, 1L, 0L, true, "lorem", ""))
    assert(out(2) == Seq(3L, 1L, 0L, true, "brace", ""))
  }

  test("payloadDedup: exact flag, aligned near-dup count, mega-bucket valve") {
    // A/B byte-identical; C = A's first 128 bytes + a different tail →
    // shares exactly the 2 full aligned chunks; D unrelated
    val base = ("x" * 150) + ("y" * 50) // 200 bytes → chunks 0,1 full, 2,3 partial...
    val media = Seq(
      (1L, base), (2L, base),
      (3L, base.substring(0, 128) + "z" * 72),
      (4L, "w" * 200),
    ).toDF("doc_id", "text")
      .select(col("doc_id"), lit("image").as("modality"),
        encode(col("text"), "UTF-8").as("payload"))
    val out = rows(Multimodal.payloadDedup(media, "doc_id")
      .orderBy(col("id1"), col("id2")))
    // (1,2): all 4 chunks shared (200/64 → ceil = 4), exact;
    // (1,3)/(2,3): chunks 0,1 shared (bytes 0..127 identical), near
    assert(out == Seq(Seq(1L, 2L, 4L, true), Seq(1L, 3L, 2L, false),
      Seq(2L, 3L, 2L, false)))
    // valve: 100 docs sharing chunk 0 is a mega-bucket at maxBucket=10 —
    // no pairs may emerge from it (the equi-join must never see it)
    val many = (1 to 100).map(i => (i.toLong, "h" * 64 + i.toString))
      .toDF("doc_id", "text")
      .select(col("doc_id"), lit("image").as("modality"),
        encode(col("text"), "UTF-8").as("payload"))
    assert(Multimodal.payloadDedup(many, "doc_id", maxBucket = 10).count() == 0)
    // ...and with the valve open the same bucket pairs quadratically
    assert(Multimodal.payloadDedup(many, "doc_id", minShared = 1,
      maxBucket = 1000).count() == 100L * 99 / 2)
  }

  test("null payloads drop from every payload-dedup path (the dhashSig contract)") {
    // md5(null) matches nothing, so a null-payload asset used to sail
    // through payloadDedupAgainst as a bogus 'unique' verdict; all three
    // entry points now drop null payloads like dhashSig does
    val good = Seq((1L, "a" * 100), (2L, "a" * 100)).toDF("doc_id", "text")
      .select(col("doc_id"), lit("image").as("modality"),
        encode(col("text"), "UTF-8").as("payload"))
    val withNull = good.unionByName(Seq(3L).toDF("doc_id")
      .select(col("doc_id"), lit("image").as("modality"),
        lit(null).cast("binary").as("payload")))
    assert(Multimodal.payloadDedup(withNull, "doc_id").count() ==
      Multimodal.payloadDedup(good, "doc_id").count())
    assert(Multimodal.payloadIndex(withNull, "doc_id")
      .filter(col("doc_id") === 3L).count() == 0)
    val verdicts = Multimodal.payloadDedupAgainst(
        Multimodal.payloadIndex(good, "doc_id"), withNull, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts == Map(1L -> "exact_dup", 2L -> "exact_dup")) // no row for 3
  }

  test("multimodal plumbing: stub decode is deterministic per payload") {
    val media = Multimodal.asMedia(docs.withColumn("text", concat(col("text"), lit("!"))))
    val feats = Multimodal.extractFeatures(spark, media, partitions = 2)
    val out = feats.collect().map(f => f.doc_id -> f).toMap
    assert(out.size == 4)
    assert(out(1L).byteLen == 43L + 1L)
    assert(out(1L).meanLuma == out(4L).meanLuma) // same payload → same features
    assert(out.values.forall(f => Set("image", "audio", "video")(f.modality)))
    assert(out.values.filter(_.modality == "audio").forall(_.height == 1))
  }
}
