package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns with typed metadata; decode / feature-extract
  * steps run batched per partition (the Scala analog of mapInPandas —
  * one decoder instantiation per partition, vectorized batches).
  *
  * Images and WAV audio decode FOR REAL: `ImageDecoder` handles PNG/BMP
  * through javax.imageio (pure JVM — no native libs needed), computing
  * actual dimensions, mean luma, and scaled thumbnails; `WavDecoder`
  * parses RIFF/WAVE PCM headers and amplitudes. Compressed audio/video
  * codecs (no media libs in this container) fall back to `StubDecoder`,
  * which derives deterministic fake features from the bytes; swap it for
  * a JNI/FFI decoder in production — the partition-batched signature is
  * the contract either way.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, modality: String, payload: Array[Byte])
  final case class MediaFeatures(doc_id: Long, modality: String, byteLen: Long,
                                 width: Int, height: Int, meanLuma: Double)

  /** Wrap a text corpus as fake media payloads: modality round-robins by
    * id; payload = utf-8 bytes (stands in for encoded media). */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("modality"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Real pure-JVM decode for PNG/BMP/JPEG payloads — javax.imageio
    * ships with the JRE (the JPEG codec included), so no native media
    * libs are needed. Magic-byte sniffing gates the expensive ImageIO
    * path: at corpus scale only rows that actually look like images pay
    * for a decode attempt; an undecodable or non-image payload falls
    * back to the stub. */
  object ImageDecoder {
    private def isPng(b: Array[Byte]): Boolean = b.length > 8 &&
      (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'
    private def isBmp(b: Array[Byte]): Boolean =
      b.length > 2 && b(0) == 'B' && b(1) == 'M'
    // SOI marker + a third 0xFF (the first segment's lead-in): what a
    // real crawl's JPEGs (JFIF and EXIF alike) all start with
    private def isJpeg(b: Array[Byte]): Boolean = b.length > 3 &&
      (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff
    def sniff(b: Array[Byte]): Boolean = isPng(b) || isBmp(b) || isJpeg(b)

    private def readImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (!sniff(payload)) None
      else try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload)))
      catch { case _: java.io.IOException => None }

    /** (width, height, mean ITU-R 601 luma) of a decodable image. */
    def decode(payload: Array[Byte]): Option[(Int, Int, Double)] =
      readImage(payload).map { img =>
        val w = img.getWidth; val h = img.getHeight
        var sum = 0.0; var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sum += (((rgb >> 16) & 0xff) * 299L + ((rgb >> 8) & 0xff) * 587L +
              (rgb & 0xff) * 114L) / 1000.0
            x += 1
          }
          y += 1
        }
        (w, h, sum / (w.toLong * h))
      }

    /** 9×8 luma grid of a decodable image — dHash's canonical input:
      * the image resampled to 9 columns × 8 rows, per-cell ITU-R 601
      * luma in 0..255, row-major. */
    def lumaGrid(payload: Array[Byte]): Option[Array[Int]] =
      readImage(payload).map { img =>
        val out = new java.awt.image.BufferedImage(9, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try g.drawImage(img, 0, 0, 9, 8, null) finally g.dispose()
        (0 until 8).flatMap { r =>
          (0 until 9).map { c =>
            val rgb = out.getRGB(c, r)
            ((((rgb >> 16) & 0xff) * 299L + ((rgb >> 8) & 0xff) * 587L +
              (rgb & 0xff) * 114L) / 1000L).toInt
          }
        }.toArray
      }

    /** Scale a decodable image to (w, h) and re-encode as PNG. */
    def resize(payload: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
      readImage(payload).map { img =>
        val out = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try g.drawImage(img, 0, 0, w, h, null) finally g.dispose()
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", baos)
        baos.toByteArray
      }
  }

  /** Real pure-JVM decode for RIFF/WAVE PCM audio payloads — a chunk-walk
    * header parse plus an amplitude scan, no native codecs needed. Maps
    * onto the feature contract as (framesPerChannel, channels,
    * mean |amplitude| normalized to [0,1]); 8-bit (unsigned) and 16-bit
    * (signed little-endian) PCM supported, anything else falls through
    * to the stub. */
  object WavDecoder {
    def sniff(b: Array[Byte]): Boolean = b.length > 44 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

    def decode(b: Array[Byte]): Option[(Int, Int, Double)] = {
      if (!sniff(b)) return None
      var off = 12
      var channels = 0
      var bits = 0
      var pcm = false
      while (off + 8 <= b.length) {
        val id = new String(b, off, 4, "US-ASCII")
        val size = le32(b, off + 4)
        if (size < 0) return None
        if (id == "fmt " && size >= 16 && off + 24 <= b.length) {
          pcm = le16(b, off + 8) == 1  // audioFormat: only PCM decodes;
                                       // A-law/mu-law etc. fall to the stub
          channels = le16(b, off + 10)
          bits = le16(b, off + 22)     // bitsPerSample@+22
        } else if (id == "data") {
          if (!pcm || channels <= 0 || (bits != 8 && bits != 16)) return None
          val bytesPer = bits / 8
          val n0 = math.min(size.toLong, (b.length - off - 8).toLong).toInt
          val n = n0 - n0 % (bytesPer * channels) // whole frames only
          val frames = n / (bytesPer * channels)
          if (frames == 0) return None
          var sum = 0.0
          var i = off + 8
          val end = off + 8 + n
          if (bits == 8)
            while (i < end) { sum += math.abs((b(i) & 0xff) - 128) / 128.0; i += 1 }
          else
            while (i < end) {
              sum += math.abs((le16(b, i) << 16 >> 16).toDouble) / 32768.0
              i += 2
            }
          return Some((frames, channels, sum / (n / bytesPer)))
        }
        // RIFF chunks are word-aligned; advance in Long — a hostile
        // 0x7FFFFFF0 chunk size would overflow Int into a negative
        // offset and turn the walk into an out-of-bounds read
        val next = off.toLong + 8L + size.toLong + (size & 1)
        if (next > b.length.toLong) return None
        off = next.toInt
      }
      None
    }
  }

  /** Deterministic solid-gray JPEG — the planted payload the m2/m4
    * gates push through the REAL decode path. JPEG is lossy in VALUES
    * but exact in GEOMETRY, and a solid image quantizes to (nearly) the
    * same solid, so the oracle can pin the decoded dimensions exactly
    * and the mean luma to a narrow band (gray's ITU-R 601 luma is gray
    * itself: 299+587+114 = 1000 exactly). */
  def solidJpeg(w: Int, h: Int, gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    baos.toByteArray
  }

  /** Deterministic fake decode: "dimensions" and "luma" from byte stats.
    * The fallback for payloads the pure-JVM ImageDecoder cannot handle
    * (audio/video codecs — no media libs in this container). */
  object StubDecoder {
    def decode(modality: String, payload: Array[Byte]): (Int, Int, Double) = {
      val n = payload.length
      val sum = payload.foldLeft(0L)((a, b) => a + (b & 0xff))
      val w = 16 + (n % 64)
      val h = if (modality == "audio") 1 else 16 + ((n / 64) % 64)
      (w, h, if (n == 0) 0.0 else sum.toDouble / n)
    }
  }

  /** Batched per-partition decode — one decoder per partition, rows
    * streamed through it (mapInPandas shape). Repartition first so decode
    * parallelism matches cluster cores, not file layout. */
  def extractFeatures(spark: SparkSession, media: DataFrame,
                      partitions: Int = 0): Dataset[MediaFeatures] = {
    import spark.implicits._
    val m = if (partitions > 0) media.repartition(partitions) else media
    m.as[MediaRow].mapPartitions { rows =>
      // per-partition decoder init goes here (expensive handle, once)
      rows.map { r =>
        val (w, h, luma) = ImageDecoder.decode(r.payload)
          .orElse(WavDecoder.decode(r.payload))
          .getOrElse(StubDecoder.decode(r.modality, r.payload))
        MediaFeatures(r.doc_id, r.modality, r.payload.length.toLong, w, h, luma)
      }
    }
  }

  final case class ResizedMedia(doc_id: Long, modality: String,
                                width: Int, height: Int, payload: Array[Byte])

  /** Resize plumbing: payload → fixed (w,h) thumbnail. PNG/BMP payloads
    * go through the real ImageDecoder (scale + PNG re-encode); anything
    * else downsamples bytes deterministically (stride sampling) behind
    * the same partition-batched signature. */
  def resize(spark: SparkSession, media: DataFrame, w: Int, h: Int,
             partitions: Int = 0): Dataset[ResizedMedia] = {
    import spark.implicits._
    val m = if (partitions > 0) media.repartition(partitions) else media
    m.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val out = ImageDecoder.resize(r.payload, w, h).getOrElse {
          val target = math.max(1, w * h)
          val stride = math.max(1, r.payload.length / target)
          r.payload.indices.by(stride).take(target)
            .map(r.payload.apply).toArray
        }
        ResizedMedia(r.doc_id, r.modality, w, h, out)
      }
    }
  }

  /** Binary-payload dedup for multimodal corpora — the asset-level
    * analog of d1/d2: exact duplicates by whole-payload md5; NEAR
    * duplicates by ALIGNED fixed-size chunk hashes (the video-chunk /
    * asset-block shape: two encodes sharing their leading blocks match
    * on every full chunk and differ only past the edit point). Emits
    * (id1, id2, sharedChunks, exactDup) for pairs sharing ≥ `minShared`
    * aligned chunks.
    *
    * Scale shape: pairs generate from an equi-join on (chunkIdx,
    * chunkHash) — bucket-local, never all-pairs — and a ubiquitous
    * bucket (a constant header block shared corpus-wide) is dropped by
    * the `maxBucket` valve BEFORE the join, the capBuckets discipline
    * every pair generator in this engine carries. The chunk melt is one
    * narrow map stage; referencing the `payload` attribute inside the
    * transform lambda is free (the in-lambda hazard applies to computed
    * expressions, not column refs). */
  /** 0-based aligned chunk-hash melt of a payload column; empty payloads
    * still yield one (empty) chunk — sequence(1, 0) would generate a
    * DESCENDING sequence. */
  private def chunkMelt(m: DataFrame, idCol: String, chunkBytes: Int): DataFrame =
    m.select(col(idCol),
      expr(s"posexplode(transform(" +
        s"sequence(1, greatest(int(ceil(octet_length(payload) / ${chunkBytes}.0)), 1)), " +
        s"i -> md5(substring(payload, (i - 1) * $chunkBytes + 1, $chunkBytes))))")
        .as(Seq("__ci", "__ch")))

  def payloadDedup(media: DataFrame, idCol: String, chunkBytes: Int = 64,
                   minShared: Long = 2, maxBucket: Long = 64): DataFrame = {
    // NULL payloads drop out, matching dhashSig — md5(null) would
    // silently fail every join and misreport the asset as 'unique'
    val m = media.select(col(idCol), col("payload"))
      .filter(col("payload").isNotNull)
    val full = m.select(col(idCol), md5(col("payload")).as("__h"))
    val chunked = chunkMelt(m, idCol, chunkBytes)
    val buckets = chunked.groupBy(col("__ci"), col("__ch"))
      .agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") <= maxBucket)
      .select(col("__ci"), col("__ch"))
    val pruned = chunked.join(buckets, Seq("__ci", "__ch"), "left_semi")
    val a = pruned.select(col(idCol).as("id1"), col("__ci"), col("__ch"))
    val b = pruned.select(col(idCol).as("id2"), col("__ci"), col("__ch"))
    val shared = a.join(b, Seq("__ci", "__ch"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("sharedChunks"))
      .filter(col("sharedChunks") >= minShared)
    val f1 = full.select(col(idCol).as("id1"), col("__h").as("__h1"))
    val f2 = full.select(col(idCol).as("id2"), col("__h").as("__h2"))
    shared.join(f1, Seq("id1")).join(f2, Seq("id2"))
      .select(col("id1"), col("id2"), col("sharedChunks"),
        (col("__h1") === col("__h2")).as("exactDup"))
  }

  /** Deterministic byte-sampler 9×8 "luma" grid for OPAQUE payloads —
    * the stub decode the differential gate can replay in any engine:
    * cell k (0..71) is the character code at position
    * ⌊len·k/72⌋ of the UTF-8 payload. In production, swap in the REAL
    * [[ImageDecoder.lumaGrid]] (same 72-cell contract) — dHash and the
    * pairing below are grid-source-agnostic.
    *
    * `s`/`sLen` must be MATERIALIZED attributes (a prior projection),
    * not live expressions: the lambda references them per element, and
    * an inlined decode would re-run 72× per row (the bigramPairsOf
    * re-evaluation hazard — [[dhashSig]] is the safe assembly). */
  def byteSampleGridOf(s: Column, sLen: Column): Column =
    transform(sequence(lit(0), lit(71)), k =>
      ascii(s.substr(((sLen * k) / 72).cast("int") + 1, lit(1))))

  /** One dHash row per asset — the shared safe assembly: the decoded
    * payload and its length materialize into their own projections
    * BEFORE the 72-element sampler lambda and the 128-reference dHash
    * expression read them. NULL payloads drop out (md5(null) drops out
    * of the exact path the same way — an all-null grid would otherwise
    * hash to a valid-looking 0). */
  private def dhashSig(media: DataFrame, idCol: String): DataFrame =
    media.filter(col("payload").isNotNull)
      .select(col(idCol), decode(col("payload"), "UTF-8").as("__s"))
      .select(col(idCol), col("__s"), length(col("__s")).as("__sl"))
      .select(col(idCol), byteSampleGridOf(col("__s"), col("__sl")).as("__g"))
      .select(col(idCol), dHashOf(col("__g")).as("dh"))

  /** dHash (difference hash) of a 72-cell row-major 9×8 grid: bit
    * (r, c) is set when cell (r, c+1) > cell (r, c) — the standard
    * 64-bit perceptual image hash (brightness gradients survive
    * re-encoding, scaling and small edits, so near-identical images
    * land at small hamming distance). Pure column arithmetic: 64
    * literal-shift terms sum to the hash (distinct powers of two — the
    * sum IS the bitwise OR). */
  def dHashOf(grid: Column): Column =
    (0 until 64).map { k =>
      val r = k / 8; val c = k % 8
      when(element_at(grid, r * 9 + c + 2) > element_at(grid, r * 9 + c + 1),
        lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Perceptual near-duplicate asset pairs by banded dHash — the pHash
    * dedup every image pipeline runs next to exact-hash dedup
    * ([[payloadDedup]] catches byte-identical and chunk-aligned copies;
    * this catches RE-ENCODED/slightly-edited assets those miss). Eight
    * 8-bit bands pigeonhole the 64-bit hash: two hashes within hamming
    * `maxHamming` ≤ 7 agree on at least one band, so candidates are
    * bucket-local (never all-pairs) and the exact `bit_count(xor)`
    * filter runs on candidates only. `maxBucket` is the degenerate-
    * bucket skew valve ([[graft.functions.Dedup.capBuckets]]). Emits
    * (id1, id2, hamming, exactHash). */
  def phashNearDups(media: DataFrame, idCol: String, maxHamming: Int = 6,
                    maxBucket: Int = 256): DataFrame = {
    require(0 <= maxHamming && maxHamming <= 7,
      "8 byte-bands pigeonhole hamming <= 7 only")
    // staged projections (decode → length → grid → hash): each stage's
    // consumers read a materialized attribute, never an inlined
    // expression — the bigramPairsOf re-evaluation hazard (the grid stage
    // alone measured 1.6× on this operator at sf0.1)
    val sig = dhashSig(media, idCol).withColumnRenamed("dh", "__dh")
    val bandArr = array((0 until 8).map(t =>
      shiftright(col("__dh"), 8 * t).bitwiseAND(lit(255L))): _*)
    val melted = graft.functions.Dedup.capBuckets(
      sig.select(col(idCol),
        posexplode(bandArr).as(Seq("bandIdx", "bandVal")), col("__dh")),
      Seq("bandIdx", "bandVal"), maxBucket)
    val left = melted.select(col(idCol).as("id1"), col("bandIdx"),
      col("bandVal"), col("__dh").as("__h1"))
    val right = melted.select(col(idCol).as("id2"), col("bandIdx"),
      col("bandVal"), col("__dh").as("__h2"))
    // shuffled (not broadcast) so the signature subtree computes once —
    // the simhashNearDups64 ReuseExchange convention
    left.hint("shuffle_hash").join(right.hint("shuffle_hash"),
        Seq("bandIdx", "bandVal"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("__h1").bitwiseXOR(col("__h2"))).cast("int")
          .as("hamming"),
        (col("__h1") === col("__h2")).as("exactHash"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The standing asset index [[payloadDedupAgainst]] probes — whole-
    * payload hashes and aligned chunk hashes as ONE tall frame
    * (kind ∈ full|chunk, doc_id, ci, h), so a deployment (or the
    * streaming twin's pinned frame) maintains a single table. */
  def payloadIndex(media: DataFrame, idCol: String,
                   chunkBytes: Int = 64): DataFrame = {
    val m = media.select(col(idCol), col("payload"))
      .filter(col("payload").isNotNull)
    m.select(lit("full").as("kind"), col(idCol).as("doc_id"),
        lit(-1).as("ci"), md5(col("payload")).as("h"))
      .unionByName(chunkMelt(m, idCol, chunkBytes)
        .select(lit("chunk").as("kind"), col(idCol).as("doc_id"),
          col("__ci").as("ci"), col("__ch").as("h")))
  }

  /** Classify a batch of arriving assets against a PREBUILT
    * [[payloadIndex]]: `exact_dup` (whole-payload hash present — lowest
    * matching standing id), `near_dup` (≥ `minShared` aligned chunks
    * with some standing asset — best match by (sharedChunks desc, id
    * asc)), else `unique`. Batch-internal duplicates are deliberately
    * NOT paired here (the batch-mode [[payloadDedup]] covers that);
    * per batch the work is the batch's own chunk melt + equi-joins
    * against the index — O(batch), the incremental-ingest shape. The
    * maxBucket valve prunes mega-buckets on the STANDING side before
    * the join, same discipline as the batch form. */
  def payloadDedupAgainst(index: DataFrame, batch: DataFrame, idCol: String,
                          chunkBytes: Int = 64, minShared: Long = 2,
                          maxBucket: Long = 64): DataFrame = {
    // NULL-payload batch rows DROP (dhashSig contract) rather than
    // classify as 'unique' — md5(null) can never match the index
    val m = batch.select(col(idCol), col("payload"))
      .filter(col("payload").isNotNull)
    val bFull = m.select(col(idCol), md5(col("payload")).as("__bh"))
    val bChunks = chunkMelt(m, idCol, chunkBytes)
    val iFull = index.filter(col("kind") === "full")
      .select(col("doc_id").as("__cid"), col("h").as("__ih"))
    val iChunksAll = index.filter(col("kind") === "chunk")
      .select(col("doc_id").as("__cid"), col("ci").as("__ici"),
        col("h").as("__ich"))
    val okBuckets = iChunksAll.groupBy(col("__ici"), col("__ich"))
      .agg(count(lit(1)).as("__bc")).filter(col("__bc") <= maxBucket)
      .select(col("__ici"), col("__ich"))
    val iChunks = iChunksAll.join(okBuckets, Seq("__ici", "__ich"), "left_semi")
    val exact = bFull.join(iFull, col("__bh") === col("__ih"))
      .groupBy(col(idCol)).agg(min(col("__cid")).as("__exactOf"))
    val near = bChunks.join(iChunks,
        col("__ci") === col("__ici") && col("__ch") === col("__ich"))
      .groupBy(col(idCol), col("__cid"))
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minShared)
      .groupBy(col(idCol))
      .agg(max(struct(col("__shared"), (-col("__cid")).as("__n"),
        col("__cid").as("__cid"))).as("__m"))
      .select(col(idCol), col("__m.__cid").as("__nearOf"),
        col("__m.__shared").as("__nearShared"))
    m.select(col(idCol))
      .join(exact, Seq(idCol), "left")
      .join(near, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__exactOf").isNotNull, lit("exact_dup"))
          .when(col("__nearOf").isNotNull, lit("near_dup"))
          .otherwise(lit("unique")).as("verdict"),
        coalesce(col("__exactOf"), col("__nearOf")).as("matchId"),
        when(col("__exactOf").isNull, col("__nearShared")).as("sharedChunks"))
  }

  /** The standing PERCEPTUAL index [[phashNearDupsAgainst]] probes: one
    * dHash row per asset — (doc_id, dh). In production this table is
    * maintained append-only per ingest batch, so classifying new assets
    * never re-pairs the corpus with itself. */
  def phashIndex(media: DataFrame, idCol: String): DataFrame =
    dhashSig(media.select(col(idCol).as("doc_id"), col("payload")), "doc_id")

  /** Incremental perceptual ingest: classify a batch of arriving assets
    * against the STANDING [[phashIndex]] — exact_phash (hamming 0),
    * near_dup (0 < hamming ≤ maxHamming, best match = smallest hamming
    * then smallest id), or unique. Candidates come from the same 8-band
    * pigeonhole as [[phashNearDups]], joined batch→index — per-batch
    * cost is O(batch) melt + bucket-local probes, the corpus never
    * re-pairs (the incrementalLsh / payloadDedupAgainst shape; a
    * streaming deployment pins the index and runs this body per
    * micro-batch). */
  def phashNearDupsAgainst(index: DataFrame, batch: DataFrame,
                           idCol: String, maxHamming: Int = 6,
                           maxBucket: Int = 256): DataFrame = {
    require(0 <= maxHamming && maxHamming <= 7,
      "8 byte-bands pigeonhole hamming <= 7 only")
    def bands(dh: Column) = array((0 until 8).map(t =>
      shiftright(dh, 8 * t).bitwiseAND(lit(255L))): _*)
    val iMelt = graft.functions.Dedup.capBuckets(
      index.select(col("doc_id").as("__cid"), col("dh").as("__ih"))
        .select(col("__cid"), col("__ih"),
          posexplode(bands(col("__ih"))).as(Seq("bandIdx", "bandVal"))),
      Seq("bandIdx", "bandVal"), maxBucket)
    val bSig = phashIndex(batch.select(col(idCol).as("doc_id"),
      col("payload")), "doc_id")
      .select(col("doc_id").as(idCol), col("dh").as("__bh"))
    val bMelt = bSig.select(col(idCol), col("__bh"),
      posexplode(bands(col("__bh"))).as(Seq("bandIdx", "bandVal")))
    val best = bMelt.join(iMelt, Seq("bandIdx", "bandVal"))
      .select(col(idCol),
        bit_count(col("__bh").bitwiseXOR(col("__ih"))).cast("int")
          .as("__ham"), col("__cid"))
      .filter(col("__ham") <= maxHamming)
      .groupBy(col(idCol))
      .agg(min(struct(col("__ham"), col("__cid"))).as("__m"))
      .select(col(idCol), col("__m.__cid").as("matchId"),
        col("__m.__ham").as("hamming"))
    bSig.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(col(idCol),
        when(col("hamming") === 0, lit("exact_phash"))
          .when(col("hamming").isNotNull, lit("near_dup"))
          .otherwise(lit("unique")).as("verdict"),
        col("matchId"), col("hamming"))
  }

  final case class Frame(doc_id: Long, frameIdx: Int, payload: Array[Byte])

  /** Frame sampling for video payloads: split the byte stream into
    * fixed-size "frames" and keep every `everyN`-th — one input row fans
    * out to many frame rows (the flatMap shape real video sampling has). */
  def sampleFrames(spark: SparkSession, media: DataFrame, frameBytes: Int,
                   everyN: Int): Dataset[Frame] = {
    import spark.implicits._
    media.as[MediaRow].filter(_.modality == "video").flatMap { r =>
      r.payload.grouped(frameBytes).zipWithIndex
        .filter { case (_, i) => i % everyN == 0 }
        .map { case (bytes, i) => Frame(r.doc_id, i, bytes) }
    }
  }
}
