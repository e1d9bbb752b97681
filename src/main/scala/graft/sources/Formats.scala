package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sources/sinks glue (SURVEY §2.5): the reference's batch formats map
  * onto Spark built-ins — SequenceFile (F1) via the hadoopFile RDD API,
  * compression codecs (F4) via writer options, sorted/indexed KV files
  * (F2/F3) via sorted-bucketed parquet, and the fsimage-style namespace
  * export (F11) as json/csv of the materialized paths.
  */
object Formats {

  /** F1: read a SequenceFile[Text, Text] as a (key, value) DataFrame.
    * (C/org/apache/hadoop/io/SequenceFile.java — reader side.) */
  def readSequenceFile(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext
      .sequenceFile[String, String](path)
      .toDF("key", "value")
  }

  /** F1 write modes: the reference's three SequenceFile layouts
    * (C/org/apache/hadoop/io/SequenceFile.java:78-93 — NONE = plain
    * records, RECORD = each value compressed alone, BLOCK = key/value
    * runs compressed together). */
  val SeqCompressionModes: Seq[String] = Seq("none", "record", "block")

  /** F1: write a 2-column DataFrame as SequenceFile[Text, Text]; the
    * `sorted` flag mirrors SequenceFile.Sorter (sort before write),
    * `compression` picks the NONE/RECORD/BLOCK layout. The mode is set
    * on a per-job JobConf — never the shared session Configuration — so
    * concurrent writers with different modes don't race. */
  def writeSequenceFile(df: DataFrame, path: String, sorted: Boolean = false,
                        compression: String = "none"): Unit = {
    import org.apache.hadoop.io.Text
    import org.apache.hadoop.io.compress.DefaultCodec
    import org.apache.hadoop.mapred.{JobConf, SequenceFileOutputFormat}
    val cols = df.columns
    require(cols.length == 2, s"sequence file needs (key,value), got ${cols.mkString(",")}")
    require(SeqCompressionModes.contains(compression),
      s"compression must be one of ${SeqCompressionModes.mkString("/")}, got $compression")
    val ordered = if (sorted) df.orderBy(col(cols(0))) else df
    val conf = new JobConf(df.sparkSession.sparkContext.hadoopConfiguration)
    compression match {
      case "none" =>
        org.apache.hadoop.mapred.FileOutputFormat.setCompressOutput(conf, false)
      case mode =>
        org.apache.hadoop.mapred.FileOutputFormat.setCompressOutput(conf, true)
        org.apache.hadoop.mapred.FileOutputFormat
          .setOutputCompressorClass(conf, classOf[DefaultCodec])
        SequenceFileOutputFormat.setOutputCompressionType(conf,
          org.apache.hadoop.io.SequenceFile.CompressionType
            .valueOf(mode.toUpperCase))
    }
    ordered.rdd
      .map(r => (new Text(String.valueOf(r.get(0))), new Text(String.valueOf(r.get(1)))))
      .saveAsHadoopFile(path, classOf[Text], classOf[Text],
        classOf[SequenceFileOutputFormat[Text, Text]], conf)
  }

  // ---- F1 generality: beyond Text,Text --------------------------------

  import org.apache.hadoop.fs.Path
  import org.apache.hadoop.io.{BytesWritable, DoubleWritable, IntWritable,
    LongWritable, NullWritable, Text, Writable}

  private def sparkTypeFor(c: Class[_]): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    c match {
      case x if x == classOf[Text] => StringType
      case x if x == classOf[LongWritable] => LongType
      case x if x == classOf[IntWritable] => IntegerType
      case x if x == classOf[DoubleWritable] => DoubleType
      case x if x == classOf[BytesWritable] => BinaryType
      case x if x == classOf[NullWritable] => NullType
      case other => StringType // unknown Writables surface via toString
    }
  }

  /** Writables are REUSED by Hadoop record readers — every branch copies
    * the payload out before the row leaves the iterator. */
  private def writableToAny(w: Writable): Any = w match {
    case t: Text => t.toString
    case l: LongWritable => l.get
    case i: IntWritable => i.get
    case d: DoubleWritable => d.get
    case b: BytesWritable => java.util.Arrays.copyOf(b.getBytes, b.getLength)
    case _: NullWritable => null
    case other => other.toString
  }

  /** F1 reader for ARBITRARY Writable pairs (the reference reader is
    * key/value-class generic, SequenceFile.java reader side): probe the
    * first file's header for the key/value classes, then scan the whole
    * path with those classes and native Spark column types (Text →
    * string, LongWritable → long, BytesWritable → binary, …). */
  def readSequenceFileTyped(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.mapred.SequenceFileInputFormat
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val first =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath)
          .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .minBy(_.getName)
      else p
    val reader = new org.apache.hadoop.io.SequenceFile.Reader(
      conf, org.apache.hadoop.io.SequenceFile.Reader.file(first))
    val (kc, vc) =
      try (reader.getKeyClass, reader.getValueClass) finally reader.close()
    val rdd = spark.sparkContext.hadoopFile(path,
        classOf[SequenceFileInputFormat[Writable, Writable]],
        kc.asInstanceOf[Class[Writable]], vc.asInstanceOf[Class[Writable]])
      .map { case (k, v) => Row(writableToAny(k), writableToAny(v)) }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("key", sparkTypeFor(kc)),
      StructField("value", sparkTypeFor(vc)))))
  }

  // ---- F2 interop: REAL MapFile directories ---------------------------

  /** F2 interop (MapFile.java:420-462): read an actual on-disk MapFile
    * DIRECTORY — `data` (the key-sorted SequenceFile) and `index` (every
    * 128th key → byte position). A user's existing MapFile/SetFile dirs
    * load without conversion; the parquet analog (writeSortedKeyed)
    * remains the native write path. */
  def readMapFileDir(spark: SparkSession, dir: String): DataFrame =
    readSequenceFileTyped(spark, new Path(dir, "data").toString)

  /** MapFile.Reader.get over a real MapFile dir: equality filter over the
    * data file (the scan prunes via pushed predicates the way the index
    * skips blocks; a driver-side index seek would serialize the read). */
  def mapFileGet(spark: SparkSession, dir: String, key: Any): DataFrame =
    readMapFileDir(spark, dir).filter(col("key") === lit(key))

  /** F2 interop: a real SetFile dir (C/org/apache/hadoop/io/SetFile.java
    * — a MapFile whose values are NullWritable) reads back as its key
    * column. */
  def readSetFileDir(spark: SparkSession, dir: String): DataFrame =
    readMapFileDir(spark, dir).select(col("key"))

  /** F2 interop: BloomMapFile.Reader.get (C/org/apache/hadoop/io/
    * BloomMapFile.java:225-252) — consult the dir's on-disk `bloom`
    * filter FIRST and launch the distributed lookup only on a probable
    * hit. The membership test runs driver-side through the real
    * BloomMapFile.Reader (exactly the reference's probablyHasKey buffer
    * discipline, so no symmetric-hash surprises); a bloom miss returns
    * an empty frame without scheduling a single task — the sparse-get
    * fast path the format exists for. */
  def bloomMapFileGet(spark: SparkSession, dir: String, key: String): DataFrame = {
    import org.apache.hadoop.io.{BloomMapFile, Text}
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = new BloomMapFile.Reader(new Path(dir), conf)
    val probable =
      try reader.probablyHasKey(new Text(key))
      finally reader.close()
    if (probable) mapFileGet(spark, dir, key)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
  }

  /** F2 interop WRITE side (MapFile.java Writer via the stock mapred
    * MapFileOutputFormat): a (key, value) string DataFrame becomes a
    * directory of real MapFiles — one `part-NNNNN` dir (data + index
    * SequenceFiles) per task, the exact multi-part layout Hadoop
    * reducers produce, so existing tooling (MapFileOutputFormat
    * .getReaders, MapFile.Reader) opens it unchanged. Parts are
    * range-tiled and partition-sorted like the TFile writer —
    * MapFile.Writer enforces ascending Text keys at append time, so the
    * sort is the format's contract, not a convenience. */
  def writeMapFileDir(df: DataFrame, path: String): Unit = {
    import org.apache.hadoop.mapred.{JobConf, MapFileOutputFormat}
    val cols = df.columns
    require(cols.length == 2, s"mapfile needs (key,value), got ${cols.mkString(",")}")
    val conf = new JobConf(df.sparkSession.sparkContext.hadoopConfiguration)
    tfileOrdered(df).rdd
      .map(r => (new Text(String.valueOf(r.get(0))),
                 new Text(String.valueOf(r.get(1)))))
      .saveAsHadoopFile(path, classOf[Text], classOf[Text],
        classOf[MapFileOutputFormat], conf)
  }

  /** Read a directory of part-MapFiles (the writeMapFileDir layout):
    * every part's `data` SequenceFile in one distributed scan, parts in
    * name order (= global key order for the range-tiled layout). */
  def readMapFileParts(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted
    require(parts.nonEmpty, s"no part-* MapFiles under $dir")
    parts.map(d => readMapFileDir(spark, d)).reduce(_ unionByName _)
  }

  /** F1: SequenceFile.Sorter merge analog (C/org/apache/hadoop/io/
    * SequenceFile.java — Sorter.merge :2637-2687, MergeQueue): k-way
    * merge of pre-sorted runs into one globally sorted sequence file,
    * duplicates preserved (merge, not dedup). Spark-first: the union of
    * runs is range-partitioned and sorted — the shuffle's range partition
    * IS the distributed merge pass, and unlike the reference's
    * single-process heap (bounded by `factor` streams per pass) it takes
    * any number of runs in one pass at any scale. Equal keys are ordered
    * by value (the reference's equal-key order is stream-arrival order,
    * which a distributed merge cannot reproduce — pin a total order
    * instead). */
  def mergeSequenceFiles(spark: SparkSession, runPaths: Seq[String],
                         outPath: String): Unit = {
    require(runPaths.nonEmpty, "mergeSequenceFiles needs at least one run")
    val merged = runPaths.map(p => readSequenceFile(spark, p))
      .reduce(_ unionByName _)
      .orderBy(col("key"), col("value"))
    writeSequenceFile(merged, outPath)
  }

  /** F2/F3: MapFile/TFile analog — a sorted, bucketed parquet table whose
    * row-group min/max stats serve as the key index (point lookups skip
    * row groups the way MapFile's index skips blocks). */
  def writeSortedKeyed(df: DataFrame, keyCol: String, path: String,
                       codec: String = "snappy"): Unit =
    df.repartitionByRange(col(keyCol))
      .sortWithinPartitions(col(keyCol))
      .write.mode(SaveMode.Overwrite)
      .option("compression", codec)
      .parquet(path)

  // ---- F3 interop: REAL binary TFiles ---------------------------------

  /** TFile block compressions available pure-JVM — the reference's third
    * option ("lzo", Compression.java) needs native libs and is rejected
    * up front rather than failing mid-write. */
  val TFileCompressions: Seq[String] = Seq("none", "gz")

  /** F3 interop write side (reference adfs-common …/io/file/tfile/
    * TFile.java:275-466 — Writer appends memcmp-ordered keys into
    * compressed data blocks with a per-file block index): a 2-column
    * string DataFrame becomes a DIRECTORY of real binary TFiles, one per
    * task. The frame is range-partitioned on the key and sorted within
    * partitions, so every part is a valid SORTED TFile and the parts
    * tile the key space in file-name order — global order with no
    * driver funnel. Goes through saveAsHadoopFile so the Hadoop conf
    * ships with the job and the output committer covers task retries.
    *
    * Spark's UTF8String comparison is unsigned byte order over UTF-8,
    * which is exactly the memcmp order TFile.Writer enforces for sorted
    * files (TFile.java:160 COMPARATOR_MEMCMP) — the sort below is the
    * writer's append-order contract, not a convenience. */
  def writeTFileDir(df: DataFrame, path: String, compression: String = "none",
                    minBlockSize: Int = 64 * 1024): Unit = {
    import org.apache.hadoop.mapred.JobConf
    val cols = df.columns
    require(cols.length == 2, s"tfile needs (key,value), got ${cols.mkString(",")}")
    require(TFileCompressions.contains(compression),
      s"compression must be one of ${TFileCompressions.mkString("/")}, got $compression")
    val conf = new JobConf(df.sparkSession.sparkContext.hadoopConfiguration)
    conf.set(TFileOutputFormat.CompressionKey, compression)
    conf.setInt(TFileOutputFormat.MinBlockKey, minBlockSize)
    tfileOrdered(df).rdd
      .map(r => (new BytesWritable(String.valueOf(r.get(0)).getBytes("UTF-8")),
                 new BytesWritable(String.valueOf(r.get(1)).getBytes("UTF-8"))))
      .saveAsHadoopFile(path, classOf[BytesWritable], classOf[BytesWritable],
        classOf[TFileOutputFormat], conf)
  }

  /** The writer's distribution: ONE range-partition exchange on the key
    * plus a partition-local sort — never a hash shuffle, never a global
    * single-partition sort (ScaleSpec pins this shape). */
  private[graft] def tfileOrdered(df: DataFrame): DataFrame =
    df.repartitionByRange(col(df.columns(0)))
      .sortWithinPartitions(col(df.columns(0)))

  /** Qualified part-file URIs under a TFile path (dir or single file),
    * in name order — the global key order for range-tiled dirs. */
  private def tfileParts(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (st.isDirectory)
      fs.listStatus(p).map(_.getPath)
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .sortBy(_.getName).map(_.toString).toSeq
    else Seq(st.getPath.toString)
  }

  /** F3 interop read side (TFile.java:794-1068 Reader + Scanner): scan a
    * TFile file or directory back as (key, value). One Spark task per
    * part file, each STREAMING its own scanner (entries never
    * materialize per-file); a fresh task-side Configuration resolves the
    * filesystem from the part URI's scheme. */
  def readTFileDir(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = tfileParts(spark, path)
    spark.sparkContext.parallelize(files, files.length)
      .flatMap(scanTFile)
      .toDF("key", "value")
  }

  /** TFile.Reader seek (createScannerByKey, TFile.java:1123-1141): keyed
    * point lookup over a SORTED TFile dir. Each part seeks through the
    * file's own block index, so only the block holding the probe key is
    * decompressed — the reference's seekTo, never a full scan. Unsorted
    * files (isSorted false) fall back to a streamed filter. */
  def tfileGet(spark: SparkSession, path: String, key: String): DataFrame = {
    import spark.implicits._
    val files = tfileParts(spark, path)
    spark.sparkContext.parallelize(files, files.length)
      .flatMap(f => seekTFile(f, key))
      .toDF("key", "value")
  }

  private def readFully(in: java.io.InputStream): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
    in.close()
    bos.toByteArray
  }

  /** Stream one TFile part; the reader/stream close when the scanner
    * drains (TFile value lengths may be chunk-encoded, so values read
    * through getValueStream rather than a length-sized buffer). A
    * task-completion listener also closes them when the consumer stops
    * early (limit/take) or a corrupt entry throws mid-scan — without it
    * the handles would live for the executor's lifetime. */
  private def scanTFile(fileUri: String): Iterator[(String, String)] = {
    import org.apache.hadoop.io.file.tfile.TFile
    val conf = new org.apache.hadoop.conf.Configuration()
    val p = new Path(fileUri)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    val reader = new TFile.Reader(in, len, conf)
    val scanner = reader.createScanner()
    var closed = false
    def closeAll(): Unit = if (!closed) {
      closed = true
      scanner.close(); reader.close(); in.close()
    }
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => closeAll()))
    new Iterator[(String, String)] {
      private var live = !scanner.atEnd()
      if (!live) closeAll()
      def hasNext: Boolean = live
      def next(): (String, String) = {
        val e = scanner.entry()
        val kb = new Array[Byte](e.getKeyLength)
        e.getKey(kb)
        val vb = readFully(e.getValueStream)
        scanner.advance()
        if (scanner.atEnd()) { live = false; closeAll() }
        (new String(kb, "UTF-8"), new String(vb, "UTF-8"))
      }
    }
  }

  /** Seek one part to `key` and return the matching entries (duplicate
    * keys allowed — scan forward while the key holds). Bounded output,
    * so this materializes and closes eagerly. */
  private def seekTFile(fileUri: String, key: String): Seq[(String, String)] = {
    import org.apache.hadoop.io.file.tfile.TFile
    val conf = new org.apache.hadoop.conf.Configuration()
    val p = new Path(fileUri)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    val reader = new TFile.Reader(in, len, conf)
    try {
      if (!reader.isSorted)
        return scanTFile(fileUri).filter(_._1 == key).toSeq
      val kb = key.getBytes("UTF-8")
      // seeking past a part's key range trips TFileIndex.getEntry with an
      // out-of-bounds block index — range-check against the part's own
      // first/last keys (the range-tiled dir makes most parts miss here)
      if (reader.getEntryCount == 0L) return Seq.empty
      def cmp(a: Array[Byte], r: org.apache.hadoop.io.file.tfile.RawComparable): Int = {
        val b = java.util.Arrays.copyOfRange(r.buffer, r.offset, r.offset + r.size)
        java.util.Arrays.compareUnsigned(a, b)
      }
      if (cmp(kb, reader.getFirstKey) < 0 || cmp(kb, reader.getLastKey) > 0)
        return Seq.empty
      val scanner = reader.createScannerByKey(kb, null)
      try {
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        var go = !scanner.atEnd()
        while (go) {
          val e = scanner.entry()
          val kb = new Array[Byte](e.getKeyLength)
          e.getKey(kb)
          val k = new String(kb, "UTF-8")
          if (k == key) {
            out += ((k, new String(readFully(e.getValueStream), "UTF-8")))
            scanner.advance()
            go = !scanner.atEnd()
          } else go = false
        }
        out.toSeq
      } finally scanner.close()
    } finally { reader.close(); in.close() }
  }

  /** F4: supported write codecs (DefaultCodec/Gzip/BZip2/Deflate/Snappy
    * in the reference → parquet codecs here). */
  val Codecs: Seq[String] = Seq("snappy", "gzip", "zstd", "lz4", "none")

  // ---- F8: alternate filesystem schemes -------------------------------

  /** F8: write a Hadoop Archive (the HAR layout HarFileSystem reads —
    * `_index`, `_masterindex`, `part-0`; version 3) from the FILES
    * directly under `srcDir`, readable afterwards by ANY Hadoop client
    * through the har:// scheme (C/org/apache/hadoop/fs/HarFileSystem
    * .java reader side). The real HadoopArchives tool is a MapReduce
    * job; this driver-side writer produces the same layout for bounded
    * inputs (fixtures, config bundles) — one flat directory level, one
    * part file. */
  def createHar(spark: SparkSession, srcDir: String, harDir: String): Unit = {
    require(harDir.endsWith(".har"), s"har dir must end with .har: $harDir")
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(srcDir)
    val fs = src.getFileSystem(conf)
    val har = new Path(harDir)
    val outFs = har.getFileSystem(conf)
    outFs.mkdirs(har)
    val files = fs.listStatus(src).filter(_.isFile).sortBy(_.getPath.getName)
    val part = outFs.create(new Path(har, "part-0"), true)
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    var off = 0L
    try files.foreach { st =>
      val in = fs.open(st.getPath)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n > 0) { part.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      entries += ((st.getPath.getName, off, st.getLen))
      off += st.getLen
    } finally part.close()
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val props = enc("0 420 root root") // modtime perm owner group
    val index = new StringBuilder
    index ++= s"${enc("/")} dir $props 0 0 " +
      files.map(f => enc(f.getPath.getName)).mkString(" ") + "\n"
    entries.foreach { case (name, o, l) =>
      index ++= s"${enc("/" + name)} file part-0 $o $l $props\n"
    }
    val idxBytes = index.toString.getBytes("UTF-8")
    val idx = outFs.create(new Path(har, "_index"), true)
    try idx.write(idxBytes) finally idx.close()
    // one store covering every hash: masterindex rows are
    // (startHash endHash beginByte endByte) into _index
    val mi = outFs.create(new Path(har, "_masterindex"), true)
    try mi.write(s"3 \n0 2147483647 0 ${idxBytes.length}\n".getBytes("UTF-8"))
    finally mi.close()
  }

  /** F11 oiv FileDistribution visitor (offlineImageViewer/
    * FileDistributionVisitor.java:83-137): file-size histogram over the
    * live namespace. The [0, maxSize] range splits into step-sized
    * segments; a file of size s lands in bucket ceil(s/step) (bucket 0
    * holds exactly the empty files), anything beyond maxSize in the
    * last bucket. Every bucket row is emitted, zeros included, as
    * (size = bucketIdx × step, numFiles) — the visitor's two-column
    * output. Directories are excluded, matching the visitor's
    * numBlocks<0 skip. One groupBy over the file table joined to a
    * generated bucket spine — namespace-scale-safe. */
  def fileDistribution(file: DataFrame, maxSize: Long = 0x2000000000L,
                       step: Long = 0x200000L): DataFrame = {
    require(step > 0 && maxSize >= step, s"need 0 < step <= maxSize")
    val nBuckets = (maxSize / step) + 1L
    require(nBuckets < Int.MaxValue, s"too many distribution intervals $nBuckets")
    val spark = file.sparkSession
    // least() clamps the final PARTIAL bucket when maxSize is not a
    // step multiple: ceil(s/step) can reach nBuckets for s in
    // (floor(maxSize/step)*step, maxSize] — the reference would index
    // past its array there; clamping keeps those files counted in the
    // last bucket instead of dropped by the spine join
    val bucketed = graft.store.StateStore.live(file)
      .filter(col("length") >= 0L)
      .select(
        when(col("length") > maxSize, lit(nBuckets - 1L))
          .otherwise(least(
            ceil(col("length").cast("double") / lit(step)).cast("long"),
            lit(nBuckets - 1L)))
          .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("numFiles"))
    spark.range(nBuckets).select(col("id").as("bucket"))
      .join(bucketed, Seq("bucket"), "left")
      .select((col("bucket") * step).as("size"),
        coalesce(col("numFiles"), lit(0L)).as("numFiles"))
      .orderBy(col("size"))
  }

  /** F11 oiv Ls visitor (offlineImageViewer/LsImageVisitor.java:77-118):
    * one ls-style text line per live inode — the type char then the
    * java-Formatter-padded " %2s %8s %10s %10d %10s %s" fields
    * (replication or '-' when 0, user, group, total block bytes,
    * modification time, path; filesize is the visitor's Σ NUM_BYTES,
    * which the ADFS file table maintains as `length`). The ADFS file
    * table stores owner as an int id and no permission/group strings
    * (A/state/File.java fields — the fork's replicated attribute
    * surface), so perms collapse to the type char, USER_NAME is the
    * owner id and GROUP_NAME is empty. modTime formats as the loader's
    * yyyy-MM-dd HH:mm (ImageLoaderCurrent.java:98), UTC for
    * engine-stable output; the root prints as "/" (:127-129). One
    * broadcast path join + string expressions — namespace-scale-safe. */
  def oivLs(file: DataFrame): DataFrame = {
    val ns = graft.state.StateManager.materializePaths(file)
    val isDir = col("length") === -1L
    val shownPath = when(col("id") === 0L, lit("/")).otherwise(col("path"))
    // Java-Formatter %Ns semantics: right-align in N, WIDEN when longer —
    // a bare lpad would silently truncate an 11-digit size to 10 chars
    def padded(c: org.apache.spark.sql.Column, n: Int) =
      when(length(c) >= n, c).otherwise(lpad(c, n, " "))
    ns.select(col("id"), shownPath.as("path"),
      concat(
        when(isDir, lit("d")).otherwise(lit("-")),
        lit(" "),
        padded(when(col("replication") > 0, col("replication").cast("string"))
          .otherwise(lit("-")), 2),
        lit(" "), padded(col("owner").cast("string"), 8),
        lit(" "), lpad(lit(""), 10, " "),
        lit(" "),
        padded(when(isDir, lit(0L)).otherwise(greatest(col("length"), lit(0L)))
          .cast("string"), 10),
        lit(" "),
        date_format(timestamp_millis(col("mtime")), "yyyy-MM-dd HH:mm"),
        lit(" "), shownPath).as("line"))
  }

  /** F11 oiv XML visitor (XmlImageVisitor.java:70-90 writeTag/attr forms
    * over ImageLoaderCurrent.processINodes :257-285): per live inode the
    * INODE element text — INODE_PATH, REPLICATION, MODIFICATION_TIME and
    * ACCESS_TIME (loader dateFormat, UTC), BLOCK_SIZE, the BLOCKS
    * element (NUM_BLOCKS attr: block count for files, −1 for dirs) with
    * one BLOCK child per block carrying BLOCK_ID/NUM_BYTES/
    * GENERATION_STAMP — the BlockEntry primary, fileIndex order — then
    * NS_QUOTA/DS_QUOTA exactly when numBlocks ≠ 0 (:274-277; −1 = unset,
    * the ADFS table has no quota column), and the PERMISSIONS element
    * (owner id as USER_NAME; group/perm strings are not in the fork's
    * replicated surface, so they emit empty). Block lists ride ONE
    * groupBy of the pruned block table; at 100 TB export is
    * per-partition string building, no driver funnel. */
  def oivXml(file: DataFrame, block: DataFrame): DataFrame = {
    val b = graft.store.StateStore.live(block)
    val perBlock = b.groupBy(col("fileId").as("__bf"), col("id").as("__bid"))
      .agg(max(col("fileIndex")).as("__fi"),
        org.apache.spark.sql.functions.max_by(col("length"),
          struct(col("generationStamp"), col("version"))).as("__len"),
        max(col("generationStamp")).as("__gs"))
    val perFile = perBlock.groupBy(col("__bf"))
      .agg(array_sort(collect_list(struct(col("__fi"), col("__bid"),
        col("__len"), col("__gs")))).as("__blks"))
    val ns = graft.state.StateManager.materializePaths(file)
    val isDir = col("length") === -1L
    val fmt = (c: org.apache.spark.sql.Column) =>
      date_format(timestamp_millis(c), "yyyy-MM-dd HH:mm")
    val nBlocks = when(isDir, lit(-1)).otherwise(
      coalesce(size(col("__blks")), lit(0)))
    val blockTags = when(isDir || col("__blks").isNull, lit(""))
      .otherwise(array_join(transform(col("__blks"), x => concat(
        lit("<BLOCK>\n<BLOCK_ID>"), x.getField("__bid").cast("string"),
        lit("</BLOCK_ID>\n<NUM_BYTES>"), x.getField("__len").cast("string"),
        lit("</NUM_BYTES>\n<GENERATION_STAMP>"), x.getField("__gs").cast("string"),
        lit("</GENERATION_STAMP>\n</BLOCK>\n"))), ""))
    val quotaTags = when(nBlocks === 0, lit(""))
      .otherwise(lit("<NS_QUOTA>-1</NS_QUOTA>\n<DS_QUOTA>-1</DS_QUOTA>\n"))
    ns.join(perFile, col("id") === col("__bf"), "left")
      .select(col("id"),
        when(col("id") === 0L, lit("/")).otherwise(col("path")).as("path"),
        concat(
          lit("<INODE>\n<INODE_PATH>"),
          when(col("id") === 0L, lit("")).otherwise(col("path")),
          lit("</INODE_PATH>\n<REPLICATION>"), col("replication").cast("string"),
          lit("</REPLICATION>\n<MODIFICATION_TIME>"), fmt(col("mtime")),
          lit("</MODIFICATION_TIME>\n<ACCESS_TIME>"), fmt(col("atime")),
          lit("</ACCESS_TIME>\n<BLOCK_SIZE>"), col("blockSize").cast("string"),
          lit("</BLOCK_SIZE>\n<BLOCKS NUM_BLOCKS=\""), nBlocks.cast("string"),
          lit("\">\n"), blockTags, lit("</BLOCKS>\n"), quotaTags,
          lit("<PERMISSIONS>\n<USER_NAME>"), col("owner").cast("string"),
          lit("</USER_NAME>\n<GROUP_NAME></GROUP_NAME>\n" +
            "<PERMISSION_STRING></PERMISSION_STRING>\n</PERMISSIONS>\n</INODE>"))
          .as("xml"))
  }
}

/** mapred OutputFormat writing each task's records as ONE real binary
  * sorted TFile (reference adfs-common …/io/file/tfile/TFile.java:275
  * Writer). A named class — not a closure — because Hadoop instantiates
  * output formats reflectively per task; compression and block size ride
  * in on the JobConf under the keys below. */
class TFileOutputFormat
    extends org.apache.hadoop.mapred.FileOutputFormat[
      org.apache.hadoop.io.BytesWritable, org.apache.hadoop.io.BytesWritable] {
  import org.apache.hadoop.fs.FileSystem
  import org.apache.hadoop.io.BytesWritable
  import org.apache.hadoop.io.file.tfile.TFile
  import org.apache.hadoop.mapred.{JobConf, RecordWriter, Reporter}
  import org.apache.hadoop.util.Progressable

  override def getRecordWriter(ignored: FileSystem, job: JobConf, name: String,
      progress: Progressable): RecordWriter[BytesWritable, BytesWritable] = {
    val file = org.apache.hadoop.mapred.FileOutputFormat.getTaskOutputPath(job, name)
    val out = file.getFileSystem(job).create(file, progress)
    val writer = new TFile.Writer(out,
      job.getInt(TFileOutputFormat.MinBlockKey, 64 * 1024),
      job.get(TFileOutputFormat.CompressionKey, "none"),
      TFile.COMPARATOR_MEMCMP, job)
    new RecordWriter[BytesWritable, BytesWritable] {
      override def write(k: BytesWritable, v: BytesWritable): Unit =
        writer.append(k.getBytes, 0, k.getLength, v.getBytes, 0, v.getLength)
      override def close(reporter: Reporter): Unit = {
        writer.close()
        out.close()
      }
    }
  }
}

object TFileOutputFormat {
  val CompressionKey = "graft.tfile.compression"
  val MinBlockKey = "graft.tfile.minblock"
}
