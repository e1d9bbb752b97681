package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash
  * group-by), MinHash+LSH (shingle → minhash → band → bucket join),
  * SimHash, and n-gram Jaccard verification of LSH candidates.
  *
  * Scale design: every stage is a hash shuffle on a derived key (hash,
  * band, token-hash) — never a cross join. Candidate generation is
  * banded LSH so the pair space is bucket-local; at 100 TB the band join
  * is the only wide shuffle and it is skew-safe (bucket sizes are bounded
  * by near-duplicate cluster sizes, and a salt column can be added to the
  * band key when a cluster explodes).
  *
  * Content IDENTITY (the hash a discarding classifier keys on) is
  * sha-256 everywhere: md5 collisions are practically constructible, and
  * adversarial content colliding with a keeper would be silently dropped.
  * SIGNATURE hashes (minhash/simhash/band keys) stay md5 — they only
  * gate candidate generation, an exact verify runs behind them, and the
  * DuckDB differential oracle computes bit-identical values either way.
  */
object Dedup {

  /** Exact dedup: sha-256(text) groups; keeper = min(id) per group.
    * Returns (id, contentHash, keepId, isDuplicate). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = sha2(col(textCol), 256)
    val w = Window.partitionBy(col("contentHash"))
    df.withColumn("contentHash", h)
      .withColumn("keepId", min(col(idCol)).over(w))
      .withColumn("isDuplicate", col(idCol) =!= col("keepId"))
  }

  /** Word n-gram rows (id, shingle), built entirely map-side: the token
    * array is zipped with its own shifted slices (`zip_with` chain), so
    * n-gram formation needs NO shuffle — unlike a posexplode + window
    * lead() construction, which exchanges and sorts the whole token
    * stream before the first shingle exists. The lambdas reference only
    * their own arguments (never the outer tokens expression), so the
    * tokenizer regexp is evaluated a constant number of times per ROW —
    * building n-grams with element_at inside a transform lambda would
    * instead re-run it per ELEMENT (Catalyst inlines the captured outer
    * expression into the lambda body). Tail positions with < n tokens
    * left produce null (concat propagates null through the zip padding)
    * and are filtered; docs with < n tokens yield no rows. */
  def ngramRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    // two-level select: the token array materializes in its own projection
    // and the n-gram tree references it n+ times — CollapseProject refuses
    // to inline a non-cheap expression referenced more than once
    // (SPARK-36718), so the tokenizer runs once per row, not once per
    // reference
    val tok = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
    tok.select(col(idCol),
      explode(filter(gramChain(col("__toks"), n), _.isNotNull)).as("shingle"))
  }

  /** The shared zip_with n-gram chain over a token array: entry i joins
    * tokens [i, i+n); the trailing n-1 positions (too few tokens left)
    * come out null via concat's null propagation — filter them, and only
    * them, before exploding (they are tail-only, so a filtered
    * posexplode still yields original 0-based positions). */
  private def gramChain(toks: Column, n: Int): Column =
    (1 until n).foldLeft(toks) { (acc, i) =>
      zip_with(acc, slice(toks, lit(i + 1), size(toks)), (x, y) => concat(x, lit(" "), y))
    }

  /** md5 of tokens joined by ' ' in position order — the ordered-token
    * identity aggregate shared by cdcChunks (chunk hash) and
    * cutDuplicateSpans (cleaned fingerprint); separator/sort/hash must
    * not drift between them (the DuckDB twins use
    * md5(string_agg/array_to_string ... ORDER BY pos)). */
  private def orderedTokensMd5(posCol: Column, tokCol: Column): Column =
    md5(array_join(transform(
      array_sort(collect_list(struct(posCol.as("p"), tokCol.as("t")))),
      s => s.getField("t")), " "))

  /** (idCol, pos, __gh) rows: every k-gram's 0-based start position and
    * sha-256 identity, built map-side — shared by [[duplicateSpans]] and
    * [[cutDuplicateSpans]]. */
  private def posGramRows(df: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame = {
    val tok = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
    tok.select(col(idCol),
        posexplode(filter(gramChain(col("__toks"), k), _.isNotNull))
          .as(Seq("pos", "gram")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        sha2(col("gram"), 256).as("__gh"))
  }

  /** Exact duplicated-substring spans — the suffix-array dedup family
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): every k-token window that occurs more than once
    * ANYWHERE in the corpus (another doc or the same doc) is duplicated
    * material; returns, per doc, the maximal UNIONS of overlapping/
    * abutting duplicated k-windows as 0-based token ranges (idCol,
    * spanStart, spanEnd, spanTokens) — every token of a reported span
    * lies inside SOME duplicated window (so Σ spanTokens counts each
    * duplicated token once), though an interior k-window of the span
    * need not itself be duplicated, and the span AS A WHOLE need not
    * occur contiguously elsewhere (runs duplicated in different sources
    * merge — the union is what a cut pass removes anyway).
    *
    * Spark-first reformulation of the suffix array: a duplicated run of
    * length >= k appears as a chain of adjacent duplicated k-grams. So
    * (1) hash every k-gram with its position map-side (the
    * zip_with chain — no shuffle), (2) ONE corpus-wide group-by finds
    * grams with occurrence count > 1 (map-side combined), (3) the
    * duplicated positions join back and overlapping/abutting windows
    * merge into islands ([[mergeIslands]]: a lag + running-sum PER-DOC
    * window — bounded by doc length, never a global sort). Nothing is
    * quadratic: no pair join,
    * no suffix sort. Gram identity is sha-256 per the class contract —
    * spans get CUT from training data, so a constructible collision
    * (xxhash64) would let adversarial content mark arbitrary spans. */
  /** Merge duplicated k-gram start positions (rows carrying idCol, pos)
    * into maximal spans: windows [p1, p1+k−1] and [p2, p2+k−1] (p1 < p2)
    * merge when they overlap or abut — p2 − p1 ≤ k — so every span is a
    * maximal UNION of duplicated windows and Σ spanTokens counts each
    * duplicated token exactly once. (A consecutive-positions-only rule
    * would emit mutually OVERLAPPING spans whenever duplicated grams sit
    * 2..k−1 apart — double-counting the overlap.) The shared single
    * home for duplicateSpans and incrementalSpansAgainst, whose merge
    * must not drift. One per-doc window (lag + running flag sum),
    * bounded by doc length — never a global sort. */
  private def mergeIslands(marked: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    marked
      .withColumn("__newIsland",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0).otherwise(1))
      .withColumn("__island", sum(col("__newIsland"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8): DataFrame = {
    require(k >= 2, s"span gram width must be >= 2, got $k")
    val posGrams = posGramRows(df, idCol, textCol, k)
    val dupGrams = posGrams.groupBy(col("__gh"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).select(col("__gh"))
    mergeIslands(posGrams.join(dupGrams, Seq("__gh")), idCol, k)
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).as("spanStart"),
        (max(col("pos")) + lit(k - 1).cast("long")).as("spanEnd"))
      .select(col(idCol), col("spanStart"), col("spanEnd"),
        (col("spanEnd") - col("spanStart") + 1L).as("spanTokens"))
  }

  /** Incremental duplicated-span detection — the [[duplicateSpans]]
    * analog of incrementalExact/incrementalLsh, completing the
    * additive-ingest story: a NEW batch's spans are classified against a
    * STANDING corpus gram index without recomputing corpus-internal
    * spans. A batch position is duplicated when its k-gram (a) exists
    * anywhere in the standing corpus — ONE semi-join against the
    * (stored, in production) distinct-gram index — or (b) repeats
    * within the batch itself. Adjacent duplicated positions merge per
    * doc exactly as in duplicateSpans. Returns (idCol, spanStart,
    * spanEnd, spanTokens, vsExisting — whether any window of the span
    * matched the standing corpus rather than only the batch). */
  def incrementalSpans(existing: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String, k: Int = 8): DataFrame =
    incrementalSpansAgainst(spanGramIndex(existing, idCol, textCol, k),
      batch, idCol, textCol, k)

  /** The standing corpus's distinct-gram index (one sha-256 gram hash
    * per row) — the stored structure [[incrementalSpansAgainst]] and its
    * streaming twin classify batches against. */
  def spanGramIndex(existing: DataFrame, idCol: String, textCol: String,
                    k: Int = 8): DataFrame =
    posGramRows(existing, idCol, textCol, k).select(col("__gh")).distinct()

  /** [[incrementalSpans]] against a PREBUILT gram index — the variant a
    * production ingest calls with the stored index (the d10
    * incrementalLshAgainst convention). */
  def incrementalSpansAgainst(exIndex: DataFrame, batch: DataFrame,
                              idCol: String, textCol: String,
                              k: Int = 8): DataFrame = {
    require(k >= 2, s"span gram width must be >= 2, got $k")
    val index = exIndex.select(col("__gh"))
    val bg = posGramRows(batch, idCol, textCol, k)
    val cnt = bg.groupBy(col("__gh")).agg(count(lit(1)).as("__bn"))
    val marked = bg
      .join(cnt, Seq("__gh"))
      .join(index.withColumn("__exMark", lit(true)), Seq("__gh"), "left")
      .select(col(idCol), col("pos"), col("__bn"),
        coalesce(col("__exMark"), lit(false)).as("__ex"))
      .filter(col("__bn") > 1 || col("__ex"))
    mergeIslands(marked, idCol, k)
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).as("spanStart"),
        (max(col("pos")) + lit(k - 1).cast("long")).as("spanEnd"),
        max(col("__ex")).as("vsExisting"))
      .select(col(idCol), col("spanStart"), col("spanEnd"),
        (col("spanEnd") - col("spanStart") + 1L).as("spanTokens"),
        col("vsExisting"))
  }

  /** The CUT companion of [[duplicateSpans]] (Lee et al. 2022 remove all
    * but one occurrence of each duplicated substring): per duplicated
    * k-gram, the rank-1 occurrence by (doc id, pos) is never cut ITSELF;
    * every later occurrence's k token positions are removed from its
    * doc. When occurrences OVERLAP (a period-p self-repeat with p < k),
    * a later occurrence's cut window can reach into the rank-1
    * occurrence's tokens, so no complete copy of that gram need survive
    * — deletion is at-least-keep-one-start, not exactly-keep-one-copy
    * (overlapping repeats are degenerate repetition a cleaner WANTS
    * gone; t9's repetition scorer is the detector for that). Returns
    * one row per input doc: (idCol, totalTokens, keptTokens, cutTokens,
    * cleanedFingerprint = md5 of the surviving tokens in order) — the
    * transform a training pipeline applies, summarized so the result is
    * oracle-hashable without shipping full cleaned texts.
    *
    * Scale shape: the occurrence rank is ONE window per GRAM (bounded
    * by an individual gram's repeat count — the corpus-wide boilerplate
    * worst case, the price of exact keep-one semantics; banded LSH
    * stays the tool when approximate is enough); the cut-position melt
    * (k rows per cut gram) and the token anti-join shuffle on doc id.
    * Gram identity is sha-256 (spans get cut — the identity contract). */
  def cutDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 8): DataFrame = {
    require(k >= 2, s"span gram width must be >= 2, got $k")
    val posGrams = posGramRows(df, idCol, textCol, k)
    // rank > 1 already implies the gram repeats — no count window needed
    val occ = posGrams.withColumn("__occ",
      row_number().over(Window.partitionBy(col("__gh"))
        .orderBy(col(idCol), col("pos"))))
    val cutToks = occ.filter(col("__occ") > 1)
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(k - 1).cast("long")))
          .as("tokPos"))
      .distinct()
    val toks = df
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), posexplode(col("__toks")).as(Seq("tokPos", "token")))
      .select(col(idCol), col("tokPos").cast("long").as("tokPos"), col("token"))
    val perDocTotal = toks.groupBy(col(idCol))
      .agg(count(lit(1)).as("__total"))
    val kept = toks.join(cutToks, Seq(idCol, "tokPos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__kept"),
        orderedTokensMd5(col("tokPos"), col("token")).as("__fp"))
    df.select(col(idCol))
      .join(perDocTotal, Seq(idCol), "left")
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__total"), lit(0L)).as("totalTokens"),
        coalesce(col("__kept"), lit(0L)).as("keptTokens"),
        (coalesce(col("__total"), lit(0L)) - coalesce(col("__kept"), lit(0L)))
          .as("cutTokens"),
        coalesce(col("__fp"), md5(lit(""))).as("cleanedFingerprint"))
  }

  /** Word 3-gram shingle rows (id, shingle) — the LSH/decontamination
    * shingle unit. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    ngramRows(df, idCol, textCol, 3)

  /** Content-defined chunking (CDC) sub-document dedup: split each doc's
    * token stream at content-defined boundaries — a boundary falls AFTER
    * token t whenever the first hex digit of md5(t) is among the lowest
    * `boundaryHexDigits` (p = digits/16, mean chunk ≈ 16/digits tokens) —
    * hash each chunk, and count per doc how many of its chunks also
    * appear in ANOTHER doc. Because boundaries depend only on local
    * content, identical passages chunk identically wherever they sit
    * (shift-resistant, the CDC property rolling-hash dedup relies on),
    * so shared boilerplate/quotations surface even when whole-doc and
    * near-dup dedup both miss them. Returns one row per INPUT doc:
    * (idCol, nChunks, nSharedChunks) — zero-token docs report 0/0.
    *
    * Scale shape: the chunk-id assignment is a per-DOC running count
    * (window partitioned by doc id — bounded by doc length, never a
    * global sort); chunk texts aggregate with map-side partials; the only
    * corpus-wide shuffle is the narrow (chunkHash → distinct-doc count)
    * group-by. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                boundaryHexDigits: Int = 2): DataFrame = {
    val tok = df.select(col(idCol),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("i", "token")))
    val isB = when(instr(lit("0123456789abcdef"),
      substring(md5(col("token")), 1, 1)) <= boundaryHexDigits, 1L).otherwise(0L)
    // chunkId = boundaries among STRICTLY PRIOR tokens of the same doc
    val wPrev = Window.partitionBy(col(idCol)).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = tok.withColumn("b", isB)
      .withColumn("chunkId", coalesce(sum(col("b")).over(wPrev), lit(0L)))
      .groupBy(col(idCol), col("chunkId"))
      .agg(orderedTokensMd5(col("i"), col("token")).as("chunkHash"))
    val docsPerChunk = chunks.groupBy(col("chunkHash"))
      .agg(countDistinct(col(idCol)).as("__nDocs"))
    val perDoc = chunks.join(docsPerChunk, Seq("chunkHash"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nChunks"),
        sum(when(col("__nDocs") > 1, 1L).otherwise(0L)).as("__nShared"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nChunks"), lit(0L)).as("nChunks"),
        coalesce(col("__nShared"), lit(0L)).as("nSharedChunks"))
  }

  /** MinHash signatures: k md5-seeded min-hashes per doc, as columns
    * m0..m{k-1}. Input df must have (idCol, textCol). The k hashes are k
    * MIN aggregates over the shingle rows — partial (map-side) aggregation
    * means only per-doc partials shuffle, never a k× row explosion. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame = {
    val sh = shingleRows(df, idCol, textCol)
    val aggs = (0 until k).map(s =>
      min(md5(concat(col("shingle"), lit(s"#$s")))).as(s"m$s"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** The shared skew valve: drop key-buckets larger than `maxBucket` from
    * a melted frame before a quadratic pair join — a partial-aggregated
    * bucket census + left_semi prune riding the join's own shuffle key.
    * No-op when uncapped, so default semantics stay exact. */
  private[graft] def capBuckets(melt: DataFrame, keys: Seq[String],
                                    maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) melt
    else {
      val keep = melt.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") <= maxBucket)
        .select(keys.map(col): _*)
      melt.join(keep, keys, "left_semi")
    }

  /** LSH band keys over a signature frame (bands of 2 minhashes). */
  def withBands(sig: DataFrame, k: Int = 8): DataFrame =
    (0 until k / 2).foldLeft(sig) { (d, b) =>
      d.withColumn(s"band$b", md5(concat(col(s"m${2 * b}"), lit("|"), col(s"m${2 * b + 1}"))))
    }

  /** Candidate pairs: docs sharing ANY band, id1 < id2, deduped; with the
    * minhash-agreement Jaccard estimate. The bands are melted into
    * (bandIdx, bandKey) rows via ONE posexplode pass so a single equi-join
    * on the composite key covers all bands — one shuffle instead of k/2
    * self-joins, and the band key is the natural bucketing column at
    * cluster scale.
    *
    * Shape: the melt carries ONLY (id, bandIdx, bandKey) — candidate rows
    * through the band join and the pair `distinct()` are 3 narrow columns,
    * not 2×k md5 strings (the wide-melt formulation shipped ~8× wider pair
    * rows through the widest shuffle of the whole pipeline). The minhash
    * agreement estimate is joined back AFTER the dedup, from the k-column
    * signature frame keyed by id. No cache anywhere: every consumer sits on
    * the signature groupBy's exchange, and partial aggregation puts the
    * expensive work (tokenize, shingle, k md5s per shingle) BELOW that
    * exchange — ReuseExchange computes it once per action; above it only
    * n-row aggregates re-run (verified on the executed AQE plan: ONE
    * shingle stage, the right melt and both signature join-backs are
    * ReusedExchange nodes). Returned plan is lazy — plan-only consumers
    * (Explain) trigger no job.
    *
    * `maxBucket` is the skew valve: the pair join is quadratic in band
    * bucket size, and a degenerate bucket (boilerplate text, an empty
    * shingle set, adversarial spam) turns one reducer into an O(n²)
    * straggler at corpus scale. Buckets larger than the cap are DROPPED
    * before pairing — a band shared by thousands of docs carries no
    * discriminating signal, and a real near-dup pair inside it still
    * surfaces through its other k/2−1 bands. Default = no cap (exact
    * candidate semantics, oracle-checked). */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String, k: Int = 8,
                    maxBucket: Int = Int.MaxValue): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, k)
    val banded = withBands(sig, k)
    val bandArr = array((0 until k / 2).map(b => col(s"band$b")): _*)
    val melted = capBuckets(banded.select(col(idCol),
      posexplode(bandArr).as(Seq("bandIdx", "bandKey"))),
      Seq("bandIdx", "bandKey"), maxBucket)
    val left = melted.select(col(idCol).as("id1"), col("bandIdx"), col("bandKey"))
    val right = melted.select(col(idCol).as("id2"), col("bandIdx"), col("bandKey"))
    // shuffle_hash: a broadcast plan would duplicate the melt on both sides
    // (and a (k/2)·n-row melt is never broadcastable at scale); with both
    // sides shuffled, the exchanges canonicalize equal and ReuseExchange
    // computes the melt once
    val pairs = left.hint("shuffle_hash")
      .join(right.hint("shuffle_hash"), Seq("bandIdx", "bandKey"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()
    val sigL = (0 until k).foldLeft(sig.withColumnRenamed(idCol, "id1"))(
      (d, s) => d.withColumnRenamed(s"m$s", s"Lm$s"))
    val sigR = (0 until k).foldLeft(sig.withColumnRenamed(idCol, "id2"))(
      (d, s) => d.withColumnRenamed(s"m$s", s"Rm$s"))
    val est = (0 until k).map(s =>
      when(col(s"Lm$s") === col(s"Rm$s"), 1).otherwise(0)).reduce(_ + _)
    pairs.join(sigL, Seq("id1")).join(sigR, Seq("id2"))
      .select(col("id1"), col("id2"), (est.cast("double") / k).as("estJaccard"))
  }

  /** Benchmark decontamination: flag training docs sharing ≥ `minShared`
    * distinct word-3-gram shingles with ANY document of an evaluation
    * set — the train/test-overlap check every training-data pipeline
    * runs before a corpus ships. Output (trainId, evalId, sharedShingles)
    * names the contaminating pair, not just a flag. Scale shape: the
    * eval side is small by construction (benchmarks are thousands of
    * docs, the corpus is billions), so its distinct shingle set is
    * BROADCAST and the corpus-side shingle stream never shuffles — cost
    * is one map-side join + one partial-aggregated groupBy on the hits. */
  def contamination(train: DataFrame, evalDocs: DataFrame, idCol: String,
                    textCol: String, minShared: Int = 3): DataFrame = {
    // the corpus-side shingle stream is joined RAW against the broadcast
    // eval set — distinct-ing it first would shuffle every shingle of the
    // training corpus before the join prunes anything. Only the hits
    // shuffle: countDistinct de-dups repeated shingles of one train doc
    // on the (already tiny) joined set.
    val t = shingleRows(train, idCol, textCol).withColumnRenamed(idCol, "trainId")
    val e = shingleRows(evalDocs, idCol, textCol)
      .withColumnRenamed(idCol, "evalId").distinct()
    t.join(broadcast(e), Seq("shingle"))
      .groupBy(col("trainId"), col("evalId"))
      .agg(countDistinct(col("shingle")).as("sharedShingles"))
      .filter(col("sharedShingles") >= minShared)
  }

  /** Asymmetric shingle CONTAINMENT (Broder 1997, "On the resemblance
    * and containment of documents"): alongside [[ngramJaccard]]'s
    * symmetric resemblance, containA = |S(A)∩S(B)| / |S(A)| — 1.0 when
    * doc A's shingles all appear in B (A is an excerpt/quote of B) even
    * though the pair's Jaccard is far below any dup threshold. The
    * measure quote-detection and doc-inside-doc dedup need and Jaccard
    * structurally cannot express (a half-doc excerpt caps at J ≈ 0.5).
    * Same scale shape as [[ngramJaccard]] (this IS that pipeline plus
    * two ratio columns): candidate-pair-bounded intersection counts,
    * doc-keyed size aggregate, LEFT joins so a shingle-less candidate
    * doc scores NULL rather than vanishing. */
  def shingleContainment(df: DataFrame, idCol: String, textCol: String,
                         candidates: DataFrame): DataFrame =
    ngramJaccard(df, idCol, textCol, candidates)
      .withColumn("containA",
        when(col("szA") > 0L, col("inter").cast("double") / col("szA")))
      .withColumn("containB",
        when(col("szB") > 0L, col("inter").cast("double") / col("szB")))

  /** SPAN-level decontamination — the GPT-3 recipe (Brown et al. 2020,
    * appendix C): instead of dropping a whole training document that
    * overlaps the eval set ([[contamination]] / t6), every training
    * k-gram that appears ANYWHERE in the eval corpus is excised together
    * with a `margin`-token guard window on each side (their 200-char
    * window, in tokens), and the rest of the document survives. Returns
    * one row per training doc: (idCol, totalTokens, keptTokens,
    * cutTokens, evalHits = matched k-gram starts, cleanedFingerprint =
    * md5 of the surviving tokens in order) — the d13 summary convention,
    * hashable without shipping cleaned texts.
    *
    * Scale shape (the t6 asymmetry, reused): the eval set is benchmark-
    * sized while the training corpus is the 100 TB side, so the eval
    * DISTINCT-gram index BROADCASTS and the training gram stream never
    * shuffles for the probe (one map-side left_semi). Only the hits fan
    * out into cut positions (k + 2·margin rows per hit, doc-keyed) and
    * the token anti-join shuffles on doc id — both proportional to the
    * contaminated fraction plus one corpus token melt, never to
    * corpus × eval. Gram identity is sha-256 per the class contract
    * (spans get cut from training data — a constructible collision would
    * let adversarial content excise arbitrary spans). */
  def decontaminateSpans(train: DataFrame, evalDocs: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 8, margin: Int = 8): DataFrame =
    decontaminateSpansAgainst(spanEvalIndex(evalDocs, idCol, textCol, k),
      train, idCol, textCol, k, margin)

  /** The standing eval-gram index [[decontaminateSpans]] probes: the
    * DISTINCT sha-256 k-gram hashes of the eval corpus. Benchmark-sized
    * by construction (evals are thousands of docs, not billions), so it
    * broadcasts — build it once and reuse it across training partitions
    * / micro-batches (the streaming-ingest split, like phashIndex). */
  def spanEvalIndex(evalDocs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8): DataFrame =
    posGramRows(evalDocs, idCol, textCol, k).select(col("__gh")).distinct()

  /** [[decontaminateSpans]] against a prebuilt [[spanEvalIndex]] — the
    * probe half: per training doc, hit detection is one map-side
    * left_semi against the broadcast index, and the cut/keep/fingerprint
    * algebra depends ONLY on that doc's rows, so any partitioning of the
    * training corpus (including micro-batches of a crawl stream) yields
    * the same per-doc rows. `k` must match the index's gram width. */
  def decontaminateSpansAgainst(evalIdx: DataFrame, train: DataFrame,
                                idCol: String, textCol: String,
                                k: Int = 8, margin: Int = 8): DataFrame = {
    require(k >= 2, s"span gram width must be >= 2, got $k")
    require(margin >= 0, s"guard margin must be >= 0, got $margin")
    val hits = posGramRows(train, idCol, textCol, k)
      .join(broadcast(evalIdx.select(col("__gh"))), Seq("__gh"), "left_semi")
    // cut window = the matched k tokens ± margin, clamped at the doc
    // start; the end needs no clamp — positions past the doc simply
    // match no token in the anti-join below
    val cutToks = hits
      .select(col(idCol),
        explode(sequence(greatest(col("pos") - lit(margin.toLong), lit(0L)),
          col("pos") + lit((k - 1 + margin).toLong))).as("tokPos"))
      .distinct()
    val matches = hits.groupBy(col(idCol)).agg(count(lit(1)).as("__m"))
    val toks = train
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), posexplode(col("__toks")).as(Seq("tokPos", "token")))
      .select(col(idCol), col("tokPos").cast("long").as("tokPos"), col("token"))
    val perDocTotal = toks.groupBy(col(idCol))
      .agg(count(lit(1)).as("__total"))
    val kept = toks.join(cutToks, Seq(idCol, "tokPos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__kept"),
        orderedTokensMd5(col("tokPos"), col("token")).as("__fp"))
    train.select(col(idCol))
      .join(perDocTotal, Seq(idCol), "left")
      .join(kept, Seq(idCol), "left")
      .join(matches, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__total"), lit(0L)).as("totalTokens"),
        coalesce(col("__kept"), lit(0L)).as("keptTokens"),
        (coalesce(col("__total"), lit(0L)) - coalesce(col("__kept"), lit(0L)))
          .as("cutTokens"),
        coalesce(col("__m"), lit(0L)).as("evalHits"),
        coalesce(col("__fp"), md5(lit(""))).as("cleanedFingerprint"))
  }

  /** 16-bit SimHash over the token stream: each token contributes ±1 per
    * bit of a 16-bit md5-derived hash; final bit = sign of the sum.
    * Pure integer arithmetic → oracle-portable. */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode_outer(TextFunctions.tokens(col(textCol))).as("token"))
    val hexmap = "0123456789abcdef"
    // H = 16-bit int from the first 4 hex chars of md5(token)
    val h = md5(col("token"))
    val H = (0 until 4).map { i =>
      (instr(lit(hexmap), substring(h, i + 1, 1)) - 1) * math.pow(16, 3 - i).toLong
    }.reduce(_ + _)
    val withH = tok.withColumn("H", H)
    val sums = (0 until 16).map { b =>
      sum(when(col("token").isNotNull,
        when(shiftright(col("H"), b) % 2 === 1, 1).otherwise(-1)).otherwise(0)).as(s"s$b")
    }
    val agg = withH.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    val sim = (0 until 16).map(b =>
      when(col(s"s$b") > 0, 1L << b).otherwise(0L)).reduce(_ + _)
    agg.withColumn("simhash", sim).select(col(idCol), col("simhash"))
  }

  /** 64-bit SimHash over the token stream — the cluster-scale width
    * (16-bit simhash collides massively past a few hundred docs; see
    * [[simhashNearDups]]'s banding note). Same ±1-per-bit construction as
    * [[simhash16]] but over the full 64-bit md5 prefix. The packed value
    * is a signed long — bit 63 contributes Long.MinValue, added LAST so
    * no partial sum overflows — and xor/bit_count read the raw bit
    * pattern in both engines, so hamming distances stay exact. Token hash
    * bits come from two 32-bit halves of the first 16 md5 hex chars
    * (big-endian nibbles), avoiding any 64-bit intermediate. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode_outer(TextFunctions.tokens(col(textCol))).as("token"))
    val hexmap = "0123456789abcdef"
    // md5 materialized once per row: non-cheap and referenced 16×, so
    // CollapseProject keeps the projection boundary (SPARK-36718)
    val withH = tok.withColumn("__h", md5(col("token")))
    def half(firstChar: Int): Column =
      (0 until 8).map { i =>
        (instr(lit(hexmap), substring(col("__h"), firstChar + i, 1)) - 1) *
          (1L << (4 * (7 - i)))
      }.reduce(_ + _)
    val withHalves = withH.withColumn("__hi", half(1)).withColumn("__lo", half(9))
    def bit(b: Int): Column =
      if (b < 32) shiftright(col("__lo"), b) % 2
      else shiftright(col("__hi"), b - 32) % 2
    val sums = (0 until 64).map { b =>
      sum(when(col("token").isNotNull,
        when(bit(b) === 1, 1).otherwise(-1)).otherwise(0)).as(s"s$b")
    }
    val agg = withHalves.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    val sim = (0 until 63).map(b =>
      when(col(s"s$b") > 0, 1L << b).otherwise(0L)).reduce(_ + _) +
      when(col("s63") > 0, Long.MinValue).otherwise(0L)
    agg.withColumn("simhash", sim).select(col(idCol), col("simhash"))
  }

  /** 64-bit SimHash near-duplicate pairs with 16-bit bands: two 64-bit
    * hashes within hamming distance 3 agree on ≥ 1 of 4 disjoint 16-bit
    * bands (pigeonhole), so candidates are bucket-local on
    * (bandIdx, bandVal) and the exact hamming filter runs only on
    * candidates. 16-bit bands keep expected bucket occupancy ~n/65536 per
    * band — the corpus-scale config [[simhashNearDups]]'s docstring
    * names. Band extraction is `(simhash >> 16t) & 0xFFFF`: the mask
    * makes arithmetic vs logical shift irrelevant, so Spark and the
    * DuckDB oracle agree on the signed packed value. */
  def simhashNearDups64(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    val sig = simhash64(df, idCol, textCol)
    val bandArr = array((0 until 4).map(t =>
      shiftright(col("simhash"), 16 * t).bitwiseAND(lit(65535L))): _*)
    // skew valve, same as lshCandidates: every empty/whitespace-only doc
    // hashes to simhash 0, so one band bucket can go quadratic in the
    // self-join below — capBuckets drops buckets past maxBucket (a
    // degenerate bucket means the band carries no discriminating signal)
    val melted = capBuckets(sig.select(col(idCol),
      posexplode(bandArr).as(Seq("bandIdx", "bandVal")), col("simhash")),
      Seq("bandIdx", "bandVal"), maxBucket)
    val left = melted.select(col(idCol).as("id1"), col("bandIdx"),
      col("bandVal"), col("simhash").as("s1"))
    val right = melted.select(col(idCol).as("id2"), col("bandIdx"),
      col("bandVal"), col("simhash").as("s2"))
    left.hint("shuffle_hash").join(right.hint("shuffle_hash"), Seq("bandIdx", "bandVal"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash near-duplicate pairs. Candidate generation is bucket-local
    * via band bucketing (pigeonhole: two 16-bit hashes within hamming
    * distance 3 agree on ≥1 of 4 disjoint 4-bit bands), then the exact
    * hamming filter runs only on candidates — the all-pairs O(n²) never
    * materializes. At cluster scale use [[simhashNearDups64]] — the
    * 64-bit hash with 16-bit bands — since 16-bit simhash collides
    * massively past a few hundred docs. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    val sig = simhash16(df, idCol, textCol)
    // one posexplode pass melts the 4 bands; the self-join sides shuffle
    // the same subtree on (bandIdx, bandVal) so ReuseExchange computes the
    // simhash aggregation once — no cache needed (lazy plan).
    // capBuckets is the same degenerate-bucket valve lshCandidates has.
    val bandArr = array((0 until 4).map(b => shiftright(col("simhash"), 4 * b) % 16): _*)
    val melted = capBuckets(sig.select(col(idCol),
      posexplode(bandArr).as(Seq("bandIdx", "bandVal")), col("simhash")),
      Seq("bandIdx", "bandVal"), maxBucket)
    val left = melted.select(col(idCol).as("id1"), col("bandIdx"),
      col("bandVal"), col("simhash").as("s1"))
    val right = melted.select(col(idCol).as("id2"), col("bandIdx"),
      col("bandVal"), col("simhash").as("s2"))
    // shuffled (not broadcast) so the simhash subtree is computed once —
    // see the ReuseExchange note in lshCandidates
    left.hint("shuffle_hash").join(right.hint("shuffle_hash"), Seq("bandIdx", "bandVal"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Incremental exact dedup: classify a NEW batch against an EXISTING
    * corpus without re-pairing the corpus with itself — the shape every
    * additive ingestion pipeline needs. Status per batch doc:
    * `dup_of_existing` (content hash already in the corpus; keepId = min
    * existing id), `dup_in_batch` (first seen in this batch under a
    * smaller id), or `unique`. Existing wins over in-batch.
    *
    * Scale shape: the existing side collapses to (contentHash, minId) via
    * a partial-aggregated groupBy — in production that table is the
    * maintained dedup index, appended per batch, so the per-batch cost is
    * O(batch) map work + one hash join against the index (broadcast when
    * the batch is the small side). [[incrementalLsh]] is the NEAR-dup
    * analog over the stored banded signature table.
    *
    * Content identity is sha-256, not md5: this classifier DISCARDS data
    * (dup_of_existing rows never enter the corpus), and md5 collisions are
    * practically constructible — adversarial content colliding with an
    * existing doc would be silently dropped. The batch-internal grouping
    * uses the same hash so one map pass computes it once. */
  def incrementalExact(existing: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val index = existing
      .select(sha2(col(textCol), 256).as("contentHash"), col(idCol).as("exId"))
      .groupBy(col("contentHash")).agg(min(col("exId")).as("existingKeepId"))
    val w = Window.partitionBy(col("contentHash"))
    batch.select(col(idCol), sha2(col(textCol), 256).as("contentHash"))
      .withColumn("batchKeepId", min(col(idCol)).over(w))
      .join(index, Seq("contentHash"), "left")
      .select(col(idCol),
        when(col("existingKeepId").isNotNull, lit("dup_of_existing"))
          .when(col(idCol) =!= col("batchKeepId"), lit("dup_in_batch"))
          .otherwise(lit("unique")).as("status"),
        coalesce(col("existingKeepId"), col("batchKeepId")).as("keepId"))
  }

  /** Incremental NEAR-dup classification: batch docs against the standing
    * corpus's signature index — the LSH analog of [[incrementalExact]],
    * completing the additive-ingest story its docstring names. Each batch
    * doc gets its candidate set from ONE band equi-join against the
    * (stored, in production) banded signature table; candidates are
    * verified by minhash agreement and aggregated per batch doc.
    *
    * Status mirrors [[incrementalExact]]'s three-way classification:
    * `near_dup` (matches the standing corpus; matchId = min existing
    * near-dup id), `near_dup_in_batch` (no existing match, but a
    * SMALLER-id batch doc is a near-dup — first-seen-wins, so a burst of
    * near-copies delivered in one batch is not silently admitted), or
    * `unique`. bestEst = max agreement against the chosen source class;
    * nearDups = total candidates ≥ minEst across both classes. The
    * standing corpus is never self-paired: per-batch cost is O(batch)
    * signature map work + the band join + the batch-internal band
    * self-join (quadratic only within the batch's own buckets). Narrow
    * melt + join-back-after-dedup, like [[lshCandidates]]; `maxBucket`
    * is the same skew valve. */
  def incrementalLsh(existing: DataFrame, batch: DataFrame, idCol: String,
                     textCol: String, k: Int = 8, minEst: Double = 0.5,
                     maxBucket: Int = Int.MaxValue): DataFrame =
    incrementalLshAgainst(withBands(minhashSignatures(existing, idCol, textCol, k), k),
      batch, idCol, textCol, k, minEst, maxBucket)

  /** [[incrementalLsh]] against a PREBUILT banded signature frame — the
    * production/streaming shape: the standing corpus's signatures are
    * computed (and stored, or persisted) ONCE, and each batch pays only
    * its own signature map work + the band join. `exSig` is
    * [[withBands]]([[minhashSignatures]](existing)) — (idCol, m0..m(k−1),
    * band0..band(k/2−1)). */
  def incrementalLshAgainst(exSig: DataFrame, batch: DataFrame, idCol: String,
                            textCol: String, k: Int = 8, minEst: Double = 0.5,
                            maxBucket: Int = Int.MaxValue): DataFrame = {
    val bSig = withBands(minhashSignatures(batch, idCol, textCol, k), k)
    val bandArr = array((0 until k / 2).map(b => col(s"band$b")): _*)
    val exMelt = capBuckets(exSig.select(col(idCol).as("exId"),
      posexplode(bandArr).as(Seq("bandIdx", "bandKey"))),
      Seq("bandIdx", "bandKey"), maxBucket)
    val bMelt = bSig.select(col(idCol).as("bid"),
      posexplode(bandArr).as(Seq("bandIdx", "bandKey")))
    val candE = bMelt.hint("shuffle_hash")
      .join(exMelt.hint("shuffle_hash"), Seq("bandIdx", "bandKey"))
      .select(col("bid"), col("exId")).distinct()
    // batch-internal candidates: only SMALLER batch ids are potential
    // keepers (first-seen-wins, mirroring incrementalExact's batchKeepId).
    // The self-join is quadratic in BATCH bucket size, so the same valve
    // applies to it (a capped bucket still classifies vs the corpus above)
    val bMeltCapped = capBuckets(bMelt, Seq("bandIdx", "bandKey"), maxBucket)
    val kMelt = bMeltCapped.select(col("bid").as("kbid"), col("bandIdx"), col("bandKey"))
    val candB = bMeltCapped.hint("shuffle_hash")
      .join(kMelt.hint("shuffle_hash"), Seq("bandIdx", "bandKey"))
      .filter(col("kbid") < col("bid"))
      .select(col("bid"), col("kbid")).distinct()
    val sigB = (0 until k).foldLeft(bSig.withColumnRenamed(idCol, "bid"))(
      (d, s) => d.withColumnRenamed(s"m$s", s"Bm$s"))
      .select(col("bid") +: (0 until k).map(s => col(s"Bm$s")): _*)
    val sigE = (0 until k).foldLeft(exSig.withColumnRenamed(idCol, "exId"))(
      (d, s) => d.withColumnRenamed(s"m$s", s"Em$s"))
      .select(col("exId") +: (0 until k).map(s => col(s"Em$s")): _*)
    val sigK = (0 until k).foldLeft(bSig.withColumnRenamed(idCol, "kbid"))(
      (d, s) => d.withColumnRenamed(s"m$s", s"Em$s"))
      .select(col("kbid") +: (0 until k).map(s => col(s"Em$s")): _*)
    val est = (0 until k).map(s =>
      when(col(s"Bm$s") === col(s"Em$s"), 1).otherwise(0)).reduce(_ + _)
    val aggE = candE.join(sigB, Seq("bid")).join(sigE, Seq("exId"))
      .select(col("bid").as("ebid"), col("exId"), (est.cast("double") / k).as("est"))
      .filter(col("est") >= minEst)
      .groupBy(col("ebid"))
      .agg(min(col("exId")).as("exMatchId"), max(col("est")).as("exBest"),
        count(lit(1)).as("exN"))
    val aggB = candB.join(sigB, Seq("bid")).join(sigK, Seq("kbid"))
      .select(col("bid").as("bbid"), col("kbid"), (est.cast("double") / k).as("est"))
      .filter(col("est") >= minEst)
      .groupBy(col("bbid"))
      .agg(min(col("kbid")).as("bMatchId"), max(col("est")).as("bBest"),
        count(lit(1)).as("bN"))
    batch.select(col(idCol))
      .join(aggE, col(idCol) === col("ebid"), "left")
      .join(aggB, col(idCol) === col("bbid"), "left")
      .select(col(idCol),
        when(col("exMatchId").isNotNull, lit("near_dup"))
          .when(col("bMatchId").isNotNull, lit("near_dup_in_batch"))
          .otherwise(lit("unique")).as("status"),
        coalesce(col("exMatchId"), col("bMatchId")).as("matchId"),
        when(col("exMatchId").isNotNull, col("exBest"))
          .otherwise(col("bBest")).as("bestEst"),
        (coalesce(col("exN"), lit(0L)) + coalesce(col("bN"), lit(0L))).as("nearDups"))
  }

  /** Connected components over a near-duplicate pair graph: every doc in
    * a transitively-connected cluster gets the cluster's minimum id as its
    * `clusterId` (the canonical keeper). Input is the (id1, id2) pair set
    * from any candidate generator (LSH, SimHash, embedding ANN).
    *
    * Algorithm: min-label propagation with pointer jumping — each round
    * every node takes the least of its own label, its neighbors' labels,
    * and its label's label (path halving); converged when a round changes
    * nothing. The grandparent hop halves label-chain lengths every round,
    * so rounds = O(log diameter) — a million-node chain settles in ~20
    * rounds — while near-dup graphs (unions of small dense cliques)
    * settle in 2-3. Each round is two key shuffles (edge join + label
    * self-join), never an all-pairs product, and the edge list is the
    * only state, so the 100 TB path is `O(log d) × O(|E|)` with partial
    * aggregation — the same round shape as the large-star/small-star
    * family (Kiveris et al., "Connected Components in MapReduce").
    *
    * Returns (id, clusterId); every endpoint of every pair appears once.
    * Isolated docs (no pair) are absent by construction — callers treat
    * missing as "own cluster". The returned frame is a materialized
    * checkpoint that needs no release (graft.core.Caching). */
  def dupClusters(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    // undirected edges, both directions: (id, nbr)
    val edges = pairs.select(col("id1").as("id"), col("id2").as("nbr"))
      .union(pairs.select(col("id2").as("id"), col("id1").as("nbr")))
      .persist()
    var labels = edges.select(col("id")).distinct()
      .withColumn("label", col("id")).persist()
    // any action below can fail mid-iteration (executor loss, cancel);
    // without this, edges and the current labels frame stay pinned past
    // the failure — the orphan-per-failure hazard the Caching contract
    // exists to prevent
    try {
    labels.count()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // min over {own label} ∪ {neighbor labels} ∪ {label's label}
      val nbrMin = edges
        .join(labels.select(col("id").as("nbr"), col("label").as("nbrLabel")), Seq("nbr"))
        .groupBy(col("id")).agg(min(col("nbrLabel")).as("nbrMin"))
      // pointer jump: a label is itself a node id, so dereference it once
      // per round — path halving turns O(diameter) rounds into O(log d)
      val grand = labels
        .join(labels.select(col("id").as("gid"), col("label").as("grandLabel")),
          col("label") === col("gid"), "left")
        .select(col("id"), coalesce(col("grandLabel"), col("label")).as("grand"))
      // localCheckpoint (eager) both fully materializes the round AND cuts
      // its lineage: each round's plan otherwise embeds the previous
      // round's ~4x (nbrMin join, grandparent self-join, final join), so
      // plan size — and recompute cost through any unpersisted ancestor —
      // grows geometrically with rounds. With the checkpoint, round r's
      // plan starts from round r-1's materialized blocks, and the `changed`
      // probe below reads two materialized frames instead of re-deriving.
      val next = labels.join(nbrMin, Seq("id"), "left").join(grand, Seq("id"))
        .select(col("id"),
          least(col("label"), coalesce(col("nbrMin"), col("label")), col("grand")).as("label"))
        .localCheckpoint()
      val changed = next.join(labels.withColumnRenamed("label", "old"), Seq("id"))
        .filter(col("label") =!= col("old")).limit(1).count()
      graft.core.Caching.free(labels)
      labels = next
      converged = changed == 0
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge within $maxRounds rounds - the pair " +
        "graph has a path longer than maxRounds. Raise maxRounds, or for " +
        "adversarial long-chain graphs use a large-star/small-star variant " +
        "(labels would be silently wrong if returned here).")
    val out = labels.select(col("id"), col("label").as("clusterId"))
    graft.core.Caching.materializeAndRelease(out, Seq(edges, labels))
    } catch { case e: Throwable =>
      graft.core.Caching.free(edges)
      graft.core.Caching.free(labels)
      throw e
    }
  }

  /** Exact word-3-gram Jaccard for candidate pairs (id1, id2): distinct
    * shingle sets joined on shingle hash; |A∩B| / |A∪B|. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   candidates: DataFrame): DataFrame = {
    // lazy: the distinct's shuffle (below which all the tokenize/window
    // cost sits) canonicalizes identically for all three consumers, so
    // ReuseExchange computes the shingle pipeline once per action
    val sh = shingleRows(df, idCol, textCol)
      .withColumnRenamed(idCol, "did")
      .distinct()
    val sizes = sh.groupBy(col("did")).agg(count(lit(1)).as("sz"))
    val a = sh.select(col("did").as("id1"), col("shingle"))
    val b = sh.select(col("did").as("id2"), col("shingle"))
    val interCnt = candidates.join(a, Seq("id1")).join(b, Seq("id2", "shingle"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("inter"))
    // LEFT joins to sizes: a candidate doc with fewer tokens than the
    // shingle width has NO shingle rows — an inner join would silently
    // drop the pair from a stage whose contract is "score every
    // candidate". Such pairs come out with jaccard NULL (no shingle
    // signal either way), never dropped and never guessed.
    val out = candidates
      .join(interCnt, Seq("id1", "id2"), "left")
      .join(sizes.withColumnRenamed("did", "id1").withColumnRenamed("sz", "szA"),
        Seq("id1"), "left")
      .join(sizes.withColumnRenamed("did", "id2").withColumnRenamed("sz", "szB"),
        Seq("id2"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("szA", coalesce(col("szA"), lit(0L)))
      .withColumn("szB", coalesce(col("szB"), lit(0L)))
      .withColumn("jaccard",
        when(col("szA") + col("szB") - col("inter") > 0L,
          col("inter").cast("double") / (col("szA") + col("szB") - col("inter"))))
    out
  }
}
