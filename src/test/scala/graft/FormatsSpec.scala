package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.Sketches
import graft.sources.Formats

class FormatsSpec extends SparkSpec {
  import spark.implicits._

  test("F1: sequence file round-trip (sorted)") {
    val dir = graft.core.Caching.scratchDir("seq").toString + "/sf"
    val df = Seq(("b", "2"), ("a", "1"), ("c", "3")).toDF("key", "value")
    Formats.writeSequenceFile(df, dir, sorted = true)
    val back = rows(Formats.readSequenceFile(spark, dir).orderBy(col("key")))
    assert(back == Seq(Seq("a", "1"), Seq("b", "2"), Seq("c", "3")))
  }

  test("F1: compression-mode matrix — NONE/RECORD/BLOCK layouts round-trip") {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.io.SequenceFile
    val base = graft.core.Caching.scratchDir("seqmodes").toString
    val df = (1 to 200).map(i => (f"k$i%03d", s"v$i" * 20)).toDF("key", "value")
    val expected = rows(df.orderBy(col("key")))
    for (mode <- Formats.SeqCompressionModes) {
      val dir = s"$base/$mode"
      Formats.writeSequenceFile(df, dir, sorted = true, compression = mode)
      assert(rows(Formats.readSequenceFile(spark, dir).orderBy(col("key"))) == expected,
        s"round-trip mode=$mode")
      // the on-disk header must carry the layout flags the mode promises
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
      val part = fs.globStatus(new Path(s"$dir/part-*")).head.getPath
      val reader = new SequenceFile.Reader(conf, SequenceFile.Reader.file(part))
      try {
        assert(reader.isCompressed == (mode != "none"), s"mode=$mode compressed flag")
        assert(reader.isBlockCompressed == (mode == "block"), s"mode=$mode block flag")
      } finally reader.close()
    }
  }

  test("F1 typed: LongWritable/BytesWritable pairs read back as long/binary columns") {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.io.{BytesWritable, LongWritable, SequenceFile}
    // written by the raw Hadoop writer: the reader takes the key/value
    // classes from the file header, not from a Text assumption
    val file = graft.core.Caching.scratchDir("seqtyped").resolve("part-00000").toString
    val w = SequenceFile.createWriter(spark.sparkContext.hadoopConfiguration,
      SequenceFile.Writer.file(new Path(file)),
      SequenceFile.Writer.keyClass(classOf[LongWritable]),
      SequenceFile.Writer.valueClass(classOf[BytesWritable]))
    try Seq((20L, Array[Byte](1, 2)), (3L, Array[Byte](3)), (100L, Array[Byte](4, 5, 6)))
      .foreach { case (k, v) => w.append(new LongWritable(k), new BytesWritable(v)) }
    finally w.close()
    val back = Formats.readSequenceFileTyped(spark, file)
    assert(back.schema.fields.map(_.dataType.typeName).toSeq == Seq("long", "binary"))
    val got = rows(back.orderBy(col("key")))
    assert(got.map(_.head) == Seq(3L, 20L, 100L)
      && got(2)(1).asInstanceOf[Array[Byte]].toSeq == Seq[Byte](4, 5, 6))
  }

  test("F2 interop: a REAL MapFile directory reads back (data + get)") {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.io.{MapFile, Text}
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = graft.core.Caching.scratchDir("mapfiledir").toString + "/mf"
    val w = new MapFile.Writer(conf, new Path(dir),
      MapFile.Writer.keyClass(classOf[Text]),
      MapFile.Writer.valueClass(classOf[Text]))
    try (1 to 300).foreach(i => w.append(new Text(f"k$i%04d"), new Text(s"v$i")))
    finally w.close()
    val back = Formats.readMapFileDir(spark, dir)
    assert(back.count() == 300)
    assert(rows(Formats.mapFileGet(spark, dir, "k0042")) == Seq(Seq("k0042", "v42")))
  }

  test("F2 interop: SetFile and BloomMapFile dirs read back; bloom miss skips the scan") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.hadoop.io.{BloomMapFile, MapFile, NullWritable, SetFile, Text}
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.getLocal(conf)
    val base = graft.core.Caching.scratchDir("bloomset").toString
    // real SetFile (MapFile with NullWritable values): keys only
    val setDir = s"$base/set"
    val sw = new SetFile.Writer(conf, fs, setDir, classOf[Text],
      org.apache.hadoop.io.SequenceFile.CompressionType.NONE)
    try (1 to 100).foreach(i => sw.append(new Text(f"s$i%03d")))
    finally sw.close()
    val setBack = Formats.readSetFileDir(spark, setDir)
    assert(setBack.columns.toSeq == Seq("key") && setBack.count() == 100)
    assert(rows(setBack.filter(col("key") === "s042")) == Seq(Seq("s042")))
    // real BloomMapFile: hits go distributed, definite misses never
    // launch a job (the bloom consulted through the REAL reader)
    val bmDir = s"$base/bloom"
    val bw = new BloomMapFile.Writer(conf, new Path(bmDir),
      MapFile.Writer.keyClass(classOf[Text]),
      MapFile.Writer.valueClass(classOf[Text]))
    try (1 to 100).foreach(i => bw.append(new Text(f"k$i%03d"), new Text(s"v$i")))
    finally bw.close()
    assert(fs.exists(new Path(bmDir, "bloom")), "writer must emit the bloom file")
    assert(rows(Formats.bloomMapFileGet(spark, bmDir, "k077")) == Seq(Seq("k077", "v77")))
    val miss = Formats.bloomMapFileGet(spark, bmDir, "definitely-absent-key")
    assert(miss.isEmpty)
    // the miss result is the jobless empty frame, not a filtered scan
    assert(miss.rdd.getNumPartitions == 0,
      "a bloom miss must return the empty frame without a scan behind it")
  }

  test("F2 interop WRITE: writeMapFileDir emits real part-MapFiles Hadoop tooling opens") {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.io.Text
    val base = graft.core.Caching.scratchDir("mfwrite").toString
    val df = (1 to 400).map(i => (f"k$i%04d", s"v$i")).toDF("key", "value")
    Formats.writeMapFileDir(df, s"$base/mf")
    // round-trip through our distributed parts reader
    assert(rows(Formats.readMapFileParts(spark, s"$base/mf").orderBy(col("key")))
      == rows(df.orderBy(col("key"))))
    // STOCK Hadoop tooling opens the layout: getReaders + a seeked get
    val conf = spark.sparkContext.hadoopConfiguration
    val readers = org.apache.hadoop.mapred.MapFileOutputFormat
      .getReaders(null, new Path(s"$base/mf"), conf)
    try {
      assert(readers.nonEmpty)
      val v = new Text()
      val hit = readers.exists(r => r.get(new Text("k0123"), v) != null)
      assert(hit && v.toString == "v123", "raw MapFile.Reader.get must find k0123")
      // every part's index file exists (MapFile dir = data + index)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
      fs.listStatus(new Path(s"$base/mf"))
        .filter(_.getPath.getName.startsWith("part-")).foreach { p =>
          assert(fs.exists(new Path(p.getPath, "index")), s"${p.getPath} index")
        }
    } finally readers.foreach(_.close())
  }

  test("F3 interop: TFile dir round-trips (none + gz); parts are sorted binary TFiles") {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.io.file.tfile.TFile
    val base = graft.core.Caching.scratchDir("tfile").toString
    val df = (1 to 500).map(i => (f"k$i%04d", s"v$i" * 8)).toDF("key", "value")
    val expected = rows(df.orderBy(col("key")))
    for (comp <- Formats.TFileCompressions) {
      val dir = s"$base/$comp"
      Formats.writeTFileDir(df, dir, compression = comp)
      assert(rows(Formats.readTFileDir(spark, dir).orderBy(col("key"))) == expected,
        s"round-trip compression=$comp")
    }
    // every part must be readable by the RAW Hadoop TFile.Reader and
    // carry the sorted flag — binary interop, not a private layout
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val parts = fs.globStatus(new Path(s"$base/gz/part-*")).map(_.getPath)
    assert(parts.nonEmpty)
    var total = 0L
    parts.foreach { p =>
      val in = fs.open(p)
      val r = new TFile.Reader(in, fs.getFileStatus(p).getLen, conf)
      try { assert(r.isSorted, s"$p must be a sorted TFile"); total += r.getEntryCount }
      finally { r.close(); in.close() }
    }
    assert(total == 500, s"raw readers saw $total entries")
  }

  test("F3 interop: a TFile written by the RAW Hadoop writer reads back") {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.io.file.tfile.TFile
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new Path(graft.core.Caching.scratchDir("tfileraw").toString, "t.tfile")
    val fs = file.getFileSystem(conf)
    val out = fs.create(file)
    val w = new TFile.Writer(out, 64 * 1024, "gz", TFile.COMPARATOR_MEMCMP, conf)
    try (1 to 100).foreach { i =>
      val k = f"k$i%03d".getBytes("UTF-8"); val v = s"v$i".getBytes("UTF-8")
      w.append(k, v)
    } finally { w.close(); out.close() }
    val back = Formats.readTFileDir(spark, file.toString)
    assert(back.count() == 100)
    assert(rows(back.filter(col("key") === "k042")) == Seq(Seq("k042", "v42")))
  }

  test("F3: tfileGet seeks through the block index — hit, duplicate keys, miss") {
    val base = graft.core.Caching.scratchDir("tfileseek").toString
    val df = ((1 to 300).map(i => (f"k$i%04d", s"v$i"))
      :+ ("k0200", "dup")).toDF("key", "value")
    Formats.writeTFileDir(df, s"$base/tf", minBlockSize = 256)
    assert(rows(Formats.tfileGet(spark, s"$base/tf", "k0123"))
      == Seq(Seq("k0123", "v123")))
    // duplicate keys: the seek scans forward while the key holds
    assert(rows(Formats.tfileGet(spark, s"$base/tf", "k0200").orderBy(col("value")))
      == Seq(Seq("k0200", "dup"), Seq("k0200", "v200")))
    assert(Formats.tfileGet(spark, s"$base/tf", "nope").count() == 0)
  }

  test("F11: fileDistribution buckets — empty, partial-final, overflow") {
    val file = Seq(
      (1L, 0L, 1L),    // empty file → bucket 0
      (2L, 10L, 2L),   // → ceil(10/30)=1
      (3L, 95L, 3L),   // partial final bucket: ceil(95/30)=4 clamps to 3
      (4L, 500L, 4L),  // > maxSize → last bucket
      (5L, -1L, 5L),   // dir, excluded
      (6L, 60L, -6L),  // tombstone, excluded
    ).toDF("id", "length", "version")
    val out = rows(Formats.fileDistribution(file, maxSize = 100L, step = 30L))
    assert(out == Seq(Seq(0L, 1L), Seq(30L, 1L), Seq(60L, 0L), Seq(90L, 2L)))
    assert(out.map(_(1).asInstanceOf[Long]).sum == 4L, "no file dropped")
  }

  test("F1: Sorter.merge — k-way merge of sorted runs keeps duplicates") {
    val base = graft.core.Caching.scratchDir("seqmerge").toString
    val runA = Seq(("a", "1"), ("c", "3"), ("e", "5")).toDF("key", "value")
    val runB = Seq(("b", "2"), ("c", "30"), ("d", "4")).toDF("key", "value")
    val runC = Seq(("a", "0"), ("f", "6")).toDF("key", "value")
    Formats.writeSequenceFile(runA, s"$base/runA", sorted = true)
    Formats.writeSequenceFile(runB, s"$base/runB", sorted = true)
    Formats.writeSequenceFile(runC, s"$base/runC", sorted = true)
    Formats.mergeSequenceFiles(spark,
      Seq(s"$base/runA", s"$base/runB", s"$base/runC"), s"$base/merged")
    val back = rows(Formats.readSequenceFile(spark, s"$base/merged")
      .orderBy(col("key"), col("value")))
    assert(back == Seq(Seq("a", "0"), Seq("a", "1"), Seq("b", "2"),
      Seq("c", "3"), Seq("c", "30"), Seq("d", "4"), Seq("e", "5"), Seq("f", "6")))
  }

  test("F2/F3: sorted keyed parquet round-trip with codec") {
    val dir = graft.core.Caching.scratchDir("kv").toString + "/kv"
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    Formats.writeSortedKeyed(df, "k", dir, codec = "gzip")
    val back = spark.read.parquet(dir)
    assert(back.count() == 100)
    assert(rows(back.filter(col("k") === 42L)).head == Seq(42L, "v42"))
  }

  test("F8: har:// — an archive written by createHar reads back through the scheme") {
    val base = graft.core.Caching.scratchDir("har").toString
    val srcDir = s"$base/src"
    val csv = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "word")
    csv.coalesce(1).write.option("header", "true").csv(srcDir)
    Formats.createHar(spark, srcDir, s"$base/arch.har")
    // the whole read path goes through HarFileSystem: list + open + seek
    val back = spark.read.option("header", "true")
      .csv(s"har://$base/arch.har")
      .filter(col("word").isNotNull)
    assert(rows(back.orderBy(col("id")))
      == Seq(Seq("1", "alpha"), Seq("2", "beta"), Seq("3", "gamma")))
  }

  test("F8: viewfs:// — a mount-table link resolves reads through the scheme") {
    val base = graft.core.Caching.scratchDir("viewfs").toString
    val df = (1 to 50).map(i => (i.toLong, s"w$i")).toDF("id", "w")
    df.write.parquet(s"$base/tbl")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.viewfs.mounttable.graftcluster.link./data", s"file:$base/tbl")
    val back = spark.read.parquet("viewfs://graftcluster/data")
    assert(back.count() == 50
      && rows(back.filter(col("id") === 7L)) == Seq(Seq(7L, "w7")))
  }

  test("F7: approx distinct close to exact") {
    val df = (1 to 10000).map(i => ("g", i % 500)).toDF("g", "v")
    val approx = rows(Sketches.approxDistinct(df, Seq("g"), "v")).head(1).asInstanceOf[Long]
    assert(math.abs(approx - 500) < 50)
  }

  test("F5: record serialization — product encoder and kryo round-trips") {
    import graft.model.FileRow
    val rows0 = Seq(
      FileRow(1L, 0L, "a", 10L, 64L, 2L, 1L, 2L, 0L, None, 0L, 5L),
      FileRow(2L, 1L, "b", -1L, 0L, 0L, 1L, 2L, 0L, Some("w"), 0L, 6L))
    val ds = spark.createDataset(rows0)(org.apache.spark.sql.Encoders.product[FileRow])
    assert(ds.collect().toSeq == rows0)
    val kryo = spark.createDataset(rows0)(org.apache.spark.sql.Encoders.kryo[FileRow])
    assert(kryo.collect().toSet == rows0.toSet)
  }

  test("F6: record I/O — struct ↔ json/csv round-trips") {
    val df = Seq((1L, "a", 10L), (2L, "b", -1L)).toDF("id", "name", "length")
    val js = df.select(to_json(struct(col("id"), col("name"), col("length"))).as("j"))
    val schema = "id LONG, name STRING, length LONG"
    val back = js.select(from_json(col("j"), org.apache.spark.sql.types.StructType.fromDDL(schema)).as("s"))
      .select(col("s.id"), col("s.name"), col("s.length"))
    assert(rows(back).toSet == rows(df).toSet)
    val csv = df.select(concat_ws(",", col("id"), col("name"), col("length")).as("c"))
    val backCsv = csv.select(from_csv(col("c"),
      org.apache.spark.sql.types.StructType.fromDDL(schema),
      Map.empty[String, String]).as("s"))
      .select(col("s.id"), col("s.name"), col("s.length"))
    assert(rows(backCsv).toSet == rows(df).toSet)
  }

  test("mini-MVCC: applyWriteSet replaces keyed rows, keeps the rest") {
    import graft.state.Mutations
    val snap = Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)).toDF("id", "v", "version")
    val ws = Seq((2L, "b2", 10L), (4L, "d", 11L)).toDF("id", "v", "version")
    val out = rows(Mutations.applyWriteSet(snap, ws, Seq("id"))
      .orderBy(col("id")))
    assert(out == Seq(Seq(1L, "a", 1L), Seq(2L, "b2", 10L), Seq(3L, "c", 3L), Seq(4L, "d", 11L)))
  }

  test("P9: commitBatch applies heterogeneous write-sets to every table at once") {
    import graft.state.Mutations
    val file = Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "version")
    val lease = Seq(("h1", 10L), ("h2", 20L)).toDF("holder", "leaseTime")
    val post = Mutations.commitBatch(
      Map("file" -> file, "lease" -> lease, "block" -> file),
      Map("file" -> Seq((2L, "b2", 9L)).toDF("id", "v", "version"),
          "lease" -> Seq(("h2", 99L), ("h3", 30L)).toDF("holder", "leaseTime")),
      Map("file" -> Seq("id"), "lease" -> Seq("holder")))
    assert(rows(post("file").orderBy(col("id"))) ==
      Seq(Seq(1L, "a", 1L), Seq(2L, "b2", 9L)))
    assert(rows(post("lease").orderBy(col("holder"))) ==
      Seq(Seq("h1", 10L), Seq("h2", 99L), Seq("h3", 30L)))
    // a table with no write-set passes through unchanged
    assert(rows(post("block").orderBy(col("id"))) == rows(file.orderBy(col("id"))))
    // a write-set with no snapshot must fail loudly, never commit partially
    intercept[IllegalArgumentException] {
      Mutations.commitBatch(Map("file" -> file),
        Map("file" -> file, "laese" -> lease), Map("file" -> Seq("id")))
    }
  }
}
