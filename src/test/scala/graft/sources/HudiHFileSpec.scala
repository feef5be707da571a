package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** REAL Hudi metadata-table interop: [[HudiHFile]] (the HFile v3
  * codec, from the HBase book's "HFile format" appendix + the public
  * HFile.proto) and [[HudiMetadataTable]] (the `files` partition's
  * HoodieMetadataRecord listing, hudi.apache.org tech specs). The
  * planning proof mirrors HudiFilesIndexSpec: with an
  * externally-shaped `files` HFile present, the snapshot's listing
  * comes FROM the metadata table — pre-index commit metas are
  * corrupted and must never be opened — and post-index commits
  * replay on top. Structural constants are pinned against the
  * published layout so the writer/reader pair cannot drift together
  * silently.
  */
class HudiHFileSpec extends SparkSpec {

  private def df(r: Range, v: Long => Long = _ * 2L) = {
    val s = spark
    import s.implicits._
    r.map(i => (i.toLong, s"k$i", v(i.toLong))).toDF("id", "key", "v")
  }

  /** Minimal public HoodieMetadataRecord shape (key/type/
    * filesystemMetadata) — what the `files` partition carries. */
  private val MetaAvsc =
    """{"type":"record","name":"HoodieMetadataRecord","namespace":"org.apache.hudi.avro.model","fields":[
      |{"name":"key","type":"string"},
      |{"name":"type","type":"int"},
      |{"name":"filesystemMetadata","type":["null",{"type":"map","values":
      |  {"type":"record","name":"HoodieMetadataFileInfo","fields":[
      |    {"name":"size","type":"long"},{"name":"isDeleted","type":"boolean"}]}}],
      | "default":null}]}""".stripMargin

  private def conf = spark.sparkContext.hadoopConfiguration

  /** Hand-build the metadata table's `files` partition from the DATA
    * table's actual directory state — the externally-shaped fixture
    * (an HFile named like a Hudi base file, records per partition,
    * schema riding file info). `dropFiles` simulates cleaner state:
    * those names land with isDeleted=true.
    */
  private def buildFilesHFile(table: String, instant: String,
      dropFiles: Set[String] = Set.empty): Unit = {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    val schema = new org.apache.avro.Schema.Parser().parse(MetaAvsc)
    val fiSchema = schema.getField("filesystemMetadata").schema()
      .getTypes.get(1).getValueType
    def fileInfo(size: Long, deleted: Boolean): GenericData.Record = {
      val r = new GenericData.Record(fiSchema)
      r.put("size", size); r.put("isDeleted", deleted); r
    }
    def record(key: String, tpe: Int, files: Seq[(String, Long)]): (String, Array[Byte]) = {
      val r = new GenericData.Record(schema)
      r.put("key", key); r.put("type", tpe)
      val m = new java.util.HashMap[String, GenericData.Record]()
      files.foreach { case (n, sz) => m.put(n, fileInfo(sz, dropFiles.contains(n))) }
      r.put("filesystemMetadata", m)
      val bos = new java.io.ByteArrayOutputStream()
      val e = EncoderFactory.get().binaryEncoder(bos, null)
      new GenericDatumWriter[GenericRecord](schema).write(r, e)
      e.flush()
      (key, bos.toByteArray)
    }
    def filesIn(dir: java.io.File): Seq[(String, Long)] =
      Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && !f.getName.endsWith(".crc") &&
          (f.getName.endsWith(".parquet") || f.getName.contains(".log.")))
        .map(f => f.getName -> f.length()).toSeq.sortBy(_._1)
    val root = new java.io.File(table)
    val parts: Seq[(String, Seq[(String, Long)])] = {
      val rootFiles = filesIn(root)
      val sub = Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(d => d.isDirectory && d.getName != ".hoodie" && !d.getName.startsWith("."))
        .map(d => d.getName -> filesIn(d)).filter(_._2.nonEmpty).toSeq.sortBy(_._1)
      (if (rootFiles.nonEmpty) Seq(HudiMetadataTable.NonPartitionedKey -> rootFiles)
       else Nil) ++ sub
    }
    val cells = (parts.map { case (p, fs0) => record(p, 2, fs0) } :+
      record(HudiMetadataTable.AllPartitionsKey, 1, parts.map(_._1 -> 0L)))
      .sortBy(_._1)
    val dir = new org.apache.hadoop.fs.Path(s"$table/.hoodie/metadata/files")
    HudiHFile.write(conf, new org.apache.hadoop.fs.Path(dir,
      s"files-0000_0-0-0_$instant.hfile"), cells,
      Map(HudiHFile.SchemaKey -> MetaAvsc.getBytes("UTF-8")), blockRows = 2)
  }

  test("HFile v3 codec: roundtrip + the published structural constants") {
    val p = new org.apache.hadoop.fs.Path(tmpDir("hfile-rt"), "t.hfile")
    val cells = (1 to 5).map(i => (f"key$i%03d", s"value-$i".getBytes("UTF-8")))
    HudiHFile.write(conf, p, cells, Map("schema" -> "s".getBytes("UTF-8")), blockRows = 2)
    val (info, back) = HudiHFile.read(conf, p)
    assert(new String(info("schema"), "UTF-8") == "s")
    assert(back.map(_._1) == cells.map(_._1))
    assert(back.map(c => new String(c._2, "UTF-8")) == cells.map(c => new String(c._2, "UTF-8")))
    // structural pins (HBase book appendix "HFile format", HFile.proto):
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen.toInt
    val bytes = new Array[Byte](len)
    val in = fs.open(p); try in.readFully(0, bytes) finally in.close()
    // data block magic opens the file
    assert(new String(bytes, 0, 8, "UTF-8") == "DATABLK*")
    // fixed 4096-byte v3 trailer: magic, then PBUF protobuf
    assert(new String(bytes, len - 4096, 8, "UTF-8") == "TRABLK\"$")
    assert(new String(bytes, len - 4096 + 8, 4, "UTF-8") == "PBUF")
    // final int = (minor << 24) | major = 3
    assert(java.nio.ByteBuffer.wrap(bytes, len - 4, 4).getInt == 3)
    // trailer decodes: 3 data blocks (5 cells / 2 per block), 5 cells
    val t = HudiHFile.readTrailer(bytes, "pin")
    assert(t.dataIndexCount == 3 && t.entryCount == 5L && t.numDataIndexLevels == 1)
    assert(t.firstDataBlockOffset == 0L && t.compressionCodec == 2) // NONE ordinal
    // 33-byte v2+ block header: onDiskSizeWithoutHeader at +8 equals
    // uncompressedSizeWithoutHeader at +12 for an uncompressed,
    // checksum-free block
    assert(java.nio.ByteBuffer.wrap(bytes, 8, 4).getInt ==
      java.nio.ByteBuffer.wrap(bytes, 12, 4).getInt)
  }

  test("COW: the snapshot's listing comes FROM the metadata table — pre-index metas never open") {
    val table = tmpDir("mdt-cow") + "/t"
    HudiTableWriter.create(df(1 to 40).repartition(3), table, recordKeys = Seq("id")): Unit
    val c2 = HudiTableWriter.append(df(41 to 60), table)
    val replayFiles = HudiTableReader.snapshot(spark, table).inputFiles.sorted.toSeq
    buildFilesHFile(table, c2)
    // plan parity first: indexed plan == replay plan
    val indexedFiles = HudiTableReader.snapshot(spark, table).inputFiles.sorted.toSeq
    assert(indexedFiles == replayFiles, "metadata-table plan must equal the replay plan")
    // THE proof: corrupt every pre-index commit meta — planning that
    // opened any of them would throw, so serving the exact rows is
    // the no-listing/no-replay witness
    val hoodie = new java.io.File(s"$table/.hoodie")
    hoodie.listFiles().filter(_.getName.endsWith(".commit"))
      .foreach(f => java.nio.file.Files.write(f.toPath, "garbage".getBytes("UTF-8")))
    val snap = HudiTableReader.snapshot(spark, table)
    assert(snap.count() == 60L)
    assert(snap.where(col("id") === 50L).head().getAs[Long]("v") == 100L)
    assert(snap.agg(sum(col("v"))).head().getLong(0) == (1 to 60).map(_ * 2L).sum)
    // a post-index commit replays incrementally on top (its meta is intact)
    HudiTableWriter.append(df(61 to 70), table): Unit
    assert(HudiTableReader.snapshot(spark, table).count() == 70L)
  }

  test("isDeleted entries are filtered out of the listing (cleaner state)") {
    val table = tmpDir("mdt-del") + "/t"
    HudiTableWriter.create(df(1 to 10), table, recordKeys = Seq("id")): Unit
    val c2 = HudiTableWriter.append(df(11 to 20), table)
    val victim = new java.io.File(table).listFiles()
      .filter(_.getName.endsWith(s"_$c2.parquet")).map(_.getName).head
    buildFilesHFile(table, c2, dropFiles = Set(victim))
    val listing = HudiMetadataTable.filesListing(HudiTimeline.load(spark, table))
    assert(listing.isDefined)
    val files = listing.get._2.values.flatten.map(_._1).toSet
    assert(!files.contains(victim), "a deleted entry must not list")
    assert(files.exists(_.endsWith(".parquet")))
  }

  test("MOR: log files ride the metadata listing; realtime merge serves without pre-index metas") {
    val s = spark
    import s.implicits._
    val table = tmpDir("mdt-mor") + "/t"
    HudiTableWriter.createMor(df(1 to 20), table, recordKeys = Seq("id")): Unit
    val d2 = HudiTableWriter.updateLog(Seq((3L, "k3", 333L)).toDF("id", "key", "v"), table)
    buildFilesHFile(table, d2)
    new java.io.File(s"$table/.hoodie").listFiles()
      .filter(_.getName.endsWith(".deltacommit"))
      .foreach(f => java.nio.file.Files.write(f.toPath, "garbage".getBytes("UTF-8")))
    val rt = HudiTableReader.snapshot(spark, table)
    assert(rt.count() == 20L)
    assert(rt.where(col("id") === 3L).head().getAs[Long]("v") == 333L,
      "the log upsert must serve through the metadata-table plan")
  }

  test("column_stats partition: an external table's OWN stats prune the COW scan") {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    val table = tmpDir("mdt-cstats") + "/t"
    // two range-disjoint halves land in separate commits → separate files
    HudiTableWriter.create(df(1 to 40), table, recordKeys = Seq("id")): Unit
    val c2 = HudiTableWriter.append(df(1000 to 1040), table)
    // per-file actual min/max of v, from the files themselves
    val dataFiles = new java.io.File(table).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).toSeq.sortBy(_.getName)
    val stats = dataFiles.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col("v")), max(col("v"))).head()
      (f.getName, r.getLong(0), r.getLong(1))
    }
    // the public wrapper-union shape (HoodieMetadataColumnStats)
    val avsc =
      """{"type":"record","name":"HoodieMetadataRecord","namespace":"org.apache.hudi.avro.model","fields":[
        |{"name":"key","type":"string"},
        |{"name":"type","type":"int"},
        |{"name":"ColumnStatsMetadata","type":["null",
        |  {"type":"record","name":"HoodieMetadataColumnStats","fields":[
        |    {"name":"fileName","type":"string"},
        |    {"name":"columnName","type":"string"},
        |    {"name":"minValue","type":["null",
        |      {"type":"record","name":"LongWrapper","fields":[{"name":"value","type":"long"}]},
        |      {"type":"record","name":"StringWrapper","fields":[{"name":"value","type":"string"}]}],
        |     "default":null},
        |    {"name":"maxValue","type":["null","LongWrapper","StringWrapper"],"default":null},
        |    {"name":"valueCount","type":["null","long"],"default":null},
        |    {"name":"isDeleted","type":"boolean"}]}],"default":null}]}""".stripMargin
    val schema = new org.apache.avro.Schema.Parser().parse(avsc)
    val csSchema = schema.getField("ColumnStatsMetadata").schema().getTypes.get(1)
    val longW = csSchema.getField("minValue").schema().getTypes.get(1)
    val strW = csSchema.getField("minValue").schema().getTypes.get(2)
    def wrapL(v: Long) = { val w = new GenericData.Record(longW); w.put("value", v); w }
    def wrapS(v: String) = { val w = new GenericData.Record(strW); w.put("value", v); w }
    def cell(key: String, fileName: String, column: String,
        mn: AnyRef, mx: AnyRef): (String, Array[Byte]) = {
      val cs = new GenericData.Record(csSchema)
      cs.put("fileName", fileName); cs.put("columnName", column)
      cs.put("minValue", mn); cs.put("maxValue", mx)
      cs.put("valueCount", 40L); cs.put("isDeleted", false)
      val r = new GenericData.Record(schema)
      r.put("key", key); r.put("type", 3); r.put("ColumnStatsMetadata", cs)
      val bos = new java.io.ByteArrayOutputStream()
      val e = EncoderFactory.get().binaryEncoder(bos, null)
      new GenericDatumWriter[GenericRecord](schema).write(r, e)
      e.flush()
      (key, bos.toByteArray)
    }
    val cells = (stats.zipWithIndex.map { case ((name, mn, mx), i) =>
      cell(f"k$i%03d", name, "v", wrapL(mn), wrapL(mx))
    } :+ cell("k999", stats.head._1, "key", wrapS("k1"), wrapS("k999")))
      .sortBy(_._1)
    val dir = new org.apache.hadoop.fs.Path(s"$table/.hoodie/metadata/column_stats")
    HudiHFile.write(conf, new org.apache.hadoop.fs.Path(dir,
      s"col-stats-0000_0-0-0_$c2.hfile"), cells,
      Map(HudiHFile.SchemaKey -> avsc.getBytes("UTF-8")))
    // the low band keeps only the low half's files
    val full = HudiTableReader.snapshot(spark, table)
    val pruned = HudiTableReader.snapshotSkipping(spark, table, "v", 0.0, 100.0)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      "the external column_stats index must cut the file set")
    assert(pruned.where(col("v") <= 100L).count() == 40L)
    // parity: pruned(band) ∪ residual ≡ full
    val high = HudiTableReader.snapshotSkipping(spark, table, "v", 1000.0, 5000.0)
    assert(pruned.count() + high.count() == full.count())
    // string-wrapped columns never prune (non-numeric → conservative)
    assert(HudiTableReader.snapshotSkipping(spark, table, "key", 0.0, 1.0)
      .count() == full.count())
  }

  test("readKeysSeek: block-pruned point reads agree with the full scan") {
    val p = new org.apache.hadoop.fs.Path(tmpDir("hfile-seek"), "t.hfile")
    val cells = (1 to 9).map(i => (f"key$i%03d", s"v$i".getBytes("UTF-8")))
    HudiHFile.write(conf, p, cells, Map("schema" -> "s".getBytes("UTF-8")), blockRows = 2)
    // hits across first/middle/last blocks; misses below the first
    // key, between keys, and past the last
    val asked = Set("key001", "key005", "key009", "aaa", "key004x", "zzz")
    val got = HudiHFile.readKeysSeek(conf, p, asked)
    assert(got.map(_._1).sorted == Seq("key001", "key005", "key009"))
    assert(got.map(c => (c._1, new String(c._2, "UTF-8"))).toMap ==
      Map("key001" -> "v1", "key005" -> "v5", "key009" -> "v9"))
    // equivalence: every key individually matches the full read
    val full = HudiHFile.read(conf, p)._2.toMap
    cells.foreach { case (k, _) =>
      val one = HudiHFile.readKeysSeek(conf, p, Set(k))
      assert(one.size == 1 && one.head._2.toSeq == full(k).toSeq)
    }
    assert(HudiHFile.readKeysSeek(conf, p, Set.empty).isEmpty)
  }

  test("record_index partition: pointLookup seeks an external table's OWN index; fileId encodings decode") {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    // encoding 0: UUID halves + fileIndex suffix (the public packing)
    val riAvsc =
      """{"type":"record","name":"HoodieMetadataRecord","namespace":"org.apache.hudi.avro.model","fields":[
        |{"name":"key","type":"string"},
        |{"name":"type","type":"int"},
        |{"name":"recordIndexMetadata","type":["null",
        |  {"type":"record","name":"HoodieRecordIndexInfo","fields":[
        |    {"name":"partitionName","type":["null","string"],"default":null},
        |    {"name":"fileIdHighBits","type":"long","default":0},
        |    {"name":"fileIdLowBits","type":"long","default":0},
        |    {"name":"fileIndex","type":"int","default":-1},
        |    {"name":"fileId","type":["null","string"],"default":null},
        |    {"name":"instantTime","type":"long","default":0},
        |    {"name":"fileIdEncoding","type":"int","default":0}]}],"default":null}]}""".stripMargin
    val riSchema = new org.apache.avro.Schema.Parser().parse(riAvsc)
    val infoSchema = riSchema.getField("recordIndexMetadata").schema().getTypes.get(1)
    val uuid = java.util.UUID.fromString("01234567-89ab-cdef-0123-456789abcdef")
    val enc0 = new GenericData.Record(infoSchema)
    enc0.put("fileIdHighBits", uuid.getMostSignificantBits)
    enc0.put("fileIdLowBits", uuid.getLeastSignificantBits)
    enc0.put("fileIndex", 3); enc0.put("fileIdEncoding", 0)
    assert(HudiMetadataTable.fileIdOf(enc0).contains(s"$uuid-3"))
    val enc1 = new GenericData.Record(infoSchema)
    enc1.put("fileId", "g7"); enc1.put("fileIdEncoding", 1)
    assert(HudiMetadataTable.fileIdOf(enc1).contains("g7"))

    // integration: a 3-group COW table, index built from its actual
    // key→group bindings (encoding 1), probed through pointLookup
    val table = tmpDir("mdt-ridx") + "/t"
    HudiTableWriter.create(df(1 to 60).repartition(3), table, recordKeys = Seq("id")): Unit
    val head = HudiTableReader.instants(spark, table).map(_._1).max
    val bindings = HudiTableReader.snapshot(spark, table)
      .select(col("_hoodie_record_key"),
        element_at(split(input_file_name(), "/"), -1).as("f"))
      .collect().map(r => (r.getString(0), r.getString(1).split("_")(0)))
    def cell(key: String, fid: String): (String, Array[Byte]) = {
      val info = new GenericData.Record(infoSchema)
      info.put("fileId", fid); info.put("fileIdEncoding", 1)
      // GenericDatumWriter does not apply schema defaults — every
      // non-nullable field must be set
      info.put("fileIdHighBits", 0L); info.put("fileIdLowBits", 0L)
      info.put("fileIndex", -1); info.put("instantTime", 0L)
      val r = new GenericData.Record(riSchema)
      r.put("key", key); r.put("type", 5); r.put("recordIndexMetadata", info)
      val bos = new java.io.ByteArrayOutputStream()
      val e = EncoderFactory.get().binaryEncoder(bos, null)
      new GenericDatumWriter[GenericRecord](riSchema).write(r, e)
      e.flush()
      (key, bos.toByteArray)
    }
    val cells = bindings.map { case (k, fid) => cell(k, fid) }.toSeq.sortBy(_._1)
    val dir = new org.apache.hadoop.fs.Path(s"$table/.hoodie/metadata/record_index")
    HudiHFile.write(conf, new org.apache.hadoop.fs.Path(dir,
      s"record-index-0000_0-0-0_$head.hfile"), cells,
      Map(HudiHFile.SchemaKey -> riAvsc.getBytes("UTF-8")), blockRows = 8)
    val full = HudiTableReader.snapshot(spark, table)
    val hit = HudiTableReader.pointLookup(spark, table, Seq(7L))
    assert(hit.count() == 1L)
    assert(hit.head().getAs[Long]("v") == 14L)
    assert(hit.inputFiles.length < full.inputFiles.length,
      "the external record index must cut the scanned file set")
    // absent key: no group claims it → schema-keeping empty
    assert(HudiTableReader.pointLookup(spark, table, Seq(9999L)).isEmpty)
  }

  test("off-timeline HFile is ignored; unreadable HFile degrades to replay") {
    val table = tmpDir("mdt-stale") + "/t"
    HudiTableWriter.create(df(1 to 10), table, recordKeys = Seq("id")): Unit
    // an instant the timeline never committed: a leftover — ignored
    buildFilesHFile(table, "99999999999999")
    assert(HudiMetadataTable.filesListing(HudiTimeline.load(spark, table)).isEmpty)
    assert(HudiTableReader.snapshot(spark, table).count() == 10L)
    // garbage bytes under a valid on-timeline name: filesListing
    // degrades to None (the index accelerates, never gates)
    val head = HudiTableReader.instants(spark, table).map(_._1).max
    val bad = new java.io.File(s"$table/.hoodie/metadata/files/files-0000_0-0-0_$head.hfile")
    bad.getParentFile.mkdirs()
    java.nio.file.Files.write(bad.toPath,
      Array.fill[Byte](8192)(42)): Unit
    assert(HudiMetadataTable.filesListing(HudiTimeline.load(spark, table)).isEmpty)
    assert(HudiTableReader.snapshot(spark, table).count() == 10L)
  }
}
