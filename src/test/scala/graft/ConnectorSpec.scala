package graft

import graft.query.QueryParams
import graft.store._
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** FileStore / ObjectStore / OpenDataStore / validator behavior
  * (reference `tests/stores/test_file_store.py`, `test_aws.py`,
  * `test_open_data.py`, `test_validator.py`). */
class ConnectorSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("FileStore: one doc per file with record schema (file_store.py:262-272)") {
    val root = tmp("fstore")
    Files.createDirectories(java.nio.file.Paths.get(s"$root/sub"))
    Files.writeString(java.nio.file.Paths.get(s"$root/a.txt"), "hello world")
    Files.writeString(java.nio.file.Paths.get(s"$root/sub/b.txt"), "nested doc")
    Files.writeString(java.nio.file.Paths.get(s"$root/c.dat"), "binary-ish")
    val fs = new FileStore(spark, root, glob = "*.txt", readContents = true)
    val docs = fs.df.collect()
    assert(docs.length === 2)
    val a = docs.find(_.getAs[String]("name") == "a.txt").get
    assert(a.getAs[String]("path_relative") === "a.txt")
    assert(a.getAs[Long]("size") === 11L)
    assert(new String(a.getAs[Array[Byte]]("contents")) === "hello world")
    val b = docs.find(_.getAs[String]("name") == "b.txt").get
    assert(b.getAs[String]("path_relative") === "sub/b.txt")
    assert(b.getAs[String]("parent") === "sub")
    // maxDepth: only top-level files
    assert(new FileStore(spark, root, glob = "*.txt", maxDepth = 0).df.count() === 1)
  }

  test("FileStore: sidecar metadata merge + orphan flag (file_store.py:307-405)") {
    val root = tmp("fstore2")
    Files.writeString(java.nio.file.Paths.get(s"$root/a.txt"), "alpha")
    val fs = new FileStore(spark, root, glob = "*.txt")
    val fid = fs.df.select("file_id").collect()(0).getString(0)
    val s = spark; import s.implicits._
    fs.update(Seq((fid, "tagged", 7)).toDF("file_id", "label", "rank"))
    val doc = fs.df.collect()(0)
    assert(doc.getAs[String]("label") === "tagged" && doc.getAs[Long]("rank") === 7)
    assert(!doc.getAs[Boolean]("orphan"))
    // metadata whose file vanished -> orphan doc survives, flagged
    fs.update(Seq(("deadbeef", "ghost", 0)).toDF("file_id", "label", "rank"))
    val orphan = fs.df.filter(col("file_id") === "deadbeef").collect()(0)
    assert(orphan.getAs[Boolean]("orphan"))
  }

  test("FileStore replaces its sidecar by atomic rename, leaving no tmp file") {
    val root = tmp("fstore3")
    Files.writeString(java.nio.file.Paths.get(s"$root/a.txt"), "alpha")
    val fs = new FileStore(spark, root, glob = "*")
    val fid = fs.df.select("file_id").collect()(0).getString(0)
    val s = spark; import s.implicits._
    fs.update(Seq((fid, "one")).toDF("file_id", "label"))
    val sidecar = java.nio.file.Paths.get(s"$root/FileStore.json")
    val ino = Files.getAttribute(sidecar, "unix:ino")
    fs.update(Seq((fid, "two")).toDF("file_id", "label"))
    // a rename installs a new inode; an in-place rewrite keeps the old one
    assert(Files.getAttribute(sidecar, "unix:ino") !== ino)
    assert(!new java.io.File(root).list().exists(_.endsWith(".tmp")))
    // glob "*" would list a stray tmp file as a document
    val docs = fs.df.collect()
    assert(docs.length === 1 && docs(0).getAs[String]("label") === "two")
  }

  test("JsonStore writes its _schema.json through a tmp sibling, leaving no tmp file") {
    val src = java.nio.file.Paths.get(tmp("jstore-atomic"), "a.json")
    Files.writeString(src, """[{"k": 1, "d": "a"}]""")
    val js = new JsonStore(spark, Seq(src.toString), key = "k", readOnly = false)
    val s = spark; import s.implicits._
    val lu = new java.sql.Timestamp(1000L)
    js.update(Seq((2L, "b", lu)).toDF("k", "d", "lu"))
    js.update(Seq((3L, "c", lu)).toDF("k", "d", "lu"))
    // no inode check: the overlay write recreates the directory, so the
    // sidecar is a new file (and may reuse the freed inode) either way
    val overlay = java.nio.file.Paths.get(s"$src.graft")
    assert(Files.exists(overlay.resolve("_schema.json")))
    assert(!overlay.toFile.list().exists(_.endsWith(".tmp")))
    // a reopened store reads the overlay with the sidecar's types
    val reopened = new JsonStore(spark, Seq(src.toString), key = "k", readOnly = false)
    assert(reopened.df.schema("lu").dataType === org.apache.spark.sql.types.TimestampType)
    assert(reopened.df.select("k").as[Long].collect().sorted === Array(1L, 2L, 3L))
  }

  test("OpenDataStore replaces manifest.jsonl and _schema.json by atomic rename, leaving no tmp file") {
    val root = tmp("odstore-atomic")
    val od = new OpenDataStore(spark, root, objectGrouping = Seq("grp"),
      key = "k", lastUpdatedField = "lu")
    val s = spark; import s.implicits._
    od.update((0 to 5).map(i => (i.toLong, s"g${i % 2}", s"v$i", "2024-06-01"))
      .toDF("k", "grp", "v", "lu"))
    val sidecars = Seq("manifest.jsonl", "_schema.json").map(java.nio.file.Paths.get(root, _))
    val inos = sidecars.map(Files.getAttribute(_, "unix:ino"))
    od.update(Seq((1L, "g1", "v1-new", "2024-06-02")).toDF("k", "grp", "v", "lu"))
    // a rename installs a new inode; an in-place rewrite keeps the old one
    sidecars.zip(inos).foreach { case (f, ino) =>
      assert(Files.getAttribute(f, "unix:ino") !== ino, s"$f was rewritten in place")
    }
    assert(!new java.io.File(root).list().exists(_.contains(".tmp")))
    val reopened = new OpenDataStore(spark, root, objectGrouping = Seq("grp"),
      key = "k", lastUpdatedField = "lu")
    assert(reopened.count() === 6)
    assert(spark.read.json(s"$root/manifest.jsonl").agg(sum("n_docs")).head().getLong(0) === 6L)
  }

  test("ObjectStore: covering-index routing + rebuild (aws.py:184-216,530-571)") {
    val base = tmp("ostore")
    val os = new ObjectStore(spark, s"$base/data", s"$base/index", key = "k",
      searchableFields = Seq("cat"), lastUpdatedField = "lu")
    val s = spark; import s.implicits._
    val now = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    os.update((0 to 9).map(i => (i.toLong, s"cat${i % 2}", s"payload$i", now))
      .toDF("k", "cat", "body", "lu"))
    // index table holds only slim columns
    assert(os.index.df.columns.toSet === Set("k", "cat", "lu", "obj_hash"))
    // covered query (props ⊆ index) answers identically from index alone
    val covered = os.query(QueryParams(criteria = Some("""{"cat": "cat1"}"""),
      properties = Seq("k", "cat"), sort = Seq("k" -> 1)))
    assert(!covered.columns.contains("body"))
    assert(covered.collect().map(_.getLong(0)).toSeq === Seq(1L, 3L, 5L, 7L, 9L))
    // uncovered: fetches from the data plane via key join
    val full = os.query(QueryParams(criteria = Some("""{"cat": "cat0"}""")))
    assert(full.columns.contains("body") && full.count() === 5)
    // removal keeps both planes consistent; rebuild regenerates index
    os.removeDocs("""{"cat": "cat0"}""")
    assert(os.count() === 5 && os.index.df.count() === 5)
    os.rebuildIndex()
    assert(os.index.df.count() === 5)
  }

  test("OpenDataStore: partitioned layout, pruning, upsert, manifest (open_data.py:511-620)") {
    val root = tmp("odstore")
    val od = new OpenDataStore(spark, root, objectGrouping = Seq("grp"),
      key = "k", lastUpdatedField = "lu")
    val s = spark; import s.implicits._
    od.update((0 to 9).map(i => (i.toLong, s"g${i % 3}", s"v$i", "2024-06-01"))
      .toDF("k", "grp", "v", "lu"))
    // hive layout on disk: grp=g0/ g1/ g2/ with gzipped jsonl parts
    val dirs = new java.io.File(s"$root/data").listFiles().map(_.getName).filter(_.startsWith("grp="))
    assert(dirs.toSet === Set("grp=g0", "grp=g1", "grp=g2"))
    // partition pruning reaches the plan for criteria on grouping fields
    val plan = od.query("""{"grp": "g1"}""").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("grp"),
      s"expected partition filters in plan:\n$plan")
    assert(od.query("""{"grp": "g1"}""").count() === 3)
    // upsert into one group rewrites only that partition
    od.update(Seq((1L, "g1", "v1-new", "2024-06-02")).toDF("k", "grp", "v", "lu"))
    assert(od.count() === 10)
    assert(od.query("""{"k": 1}""").collect()(0).getAs[String]("v") === "v1-new")
    val mf = od.manifest.collect().map(r => r.getAs[String]("grp") -> r.getAs[Long]("n_docs")).toMap
    assert(mf === Map("g0" -> 4, "g1" -> 3, "g2" -> 3))
    // overwrite mode is scoped per-write: the session-global conf must be
    // untouched (it was previously leaked as "dynamic"/"static")
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      .equalsIgnoreCase("static"))
  }

  test("DocValidator: strict raises, non-strict routes invalids (validator.py, mongolike.py:378-391)") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, 10.0, "ok"), (2L, -5.0, "ok"), (3L, 2.0, null))
      .toDF("k", "score", "tag")
    val v = new DocValidator(Seq(
      FieldRule("k", required = true),
      FieldRule("score", min = Some(0.0)),
      FieldRule("tag", required = true)))
    val (valid, invalid) = v.split(docs)
    assert(valid.count() === 1 && invalid.count() === 2)
    val errs = invalid.filter(col("k") === 2)
      .select("_validation_errors").collect()(0).getSeq[String](0)
    assert(errs.exists(_.contains("below minimum")))
    intercept[IllegalArgumentException] {
      new DocValidator(v.rules, strict = true).split(docs)
    }
  }

  test("JsonSchemaValidator: reference test_validator.py cases (validators.py:13-90)") {
    val s = spark; import s.implicits._
    // the reference's test_schema: required task_id/successful, typed
    // fields, nested object schema for `lattice` (msonable_schema analogue)
    val schemaJson = """{
      "type": "object",
      "properties": {
        "task_id": {"type": "string"},
        "successful": {"type": "boolean"},
        "lattice": {"type": "object", "required": ["a"],
                    "properties": {"a": {"type": "integer"}}}
      },
      "required": ["task_id", "successful"]
    }"""
    val v = new JsonSchemaValidator(schemaJson)
    def errsOf(docJson: String): Seq[String] = {
      val df = s.read.json(Seq(docJson).toDS())
      val r = v.annotate(df).collect()(0)
      Option(r.getAs[scala.collection.Seq[String]]("_validation_errors"))
        .map(_.toSeq).getOrElse(Nil)
    }
    assert(errsOf("""{"task_id": "mp-test", "successful": true, "lattice": {"a": 5}}""") === Nil)
    // invalid_doc_msonable: lattice is an array, not an object
    val e1 = errsOf("""{"task_id": "mp-test", "successful": true, "lattice": ["I am not a lattice!"]}""")
    assert(e1.size === 1 && e1.head.startsWith("lattice:") && e1.head.contains("not of type 'object'"))
    // invalid_doc_missing_key: 'successful' missing -> parent-path error
    val e2 = errsOf("""{"task_id": "mp-test", "lattice": {"a": 5}}""")
    assert(e2 === Seq(": 'successful' is a required property"))
    // invalid_doc_wrong_type: successful is a string
    val e3 = errsOf("""{"task_id": "mp-test", "successful": "true", "lattice": {"a": 5}}""")
    assert(e3.size === 1 && e3.head.startsWith("successful:") && e3.head.contains("not of type 'boolean'"))
    // strict raises (ValidationError analogue)
    intercept[IllegalArgumentException] {
      new JsonSchemaValidator(schemaJson, strict = true)
        .split(s.read.json(Seq("""{"task_id": "mp-test"}""").toDS()))
    }
  }

  test("JsonSchemaValidator: enum, bounds, lengths, pattern, nested required, array items") {
    val s = spark; import s.implicits._
    val v = new JsonSchemaValidator("""{
      "type": "object",
      "properties": {
        "state": {"type": "string", "enum": ["new", "done"]},
        "score": {"type": "number", "minimum": 0, "exclusiveMaximum": 10},
        "name": {"type": "string", "minLength": 2, "maxLength": 5, "pattern": "^[a-z]+$"},
        "tags": {"type": "array", "items": {"type": "string"}},
        "meta": {"type": "object", "required": ["owner"],
                 "properties": {"owner": {"type": "string"},
                                "depth": {"type": "integer", "maximum": 3}}}
      },
      "required": ["state"]
    }""")
    val df = s.read.json(Seq(
      """{"k": 1, "state": "new",  "score": 3,  "name": "ab",     "tags": ["x"], "meta": {"owner": "me", "depth": 2}}""",
      """{"k": 2, "state": "odd",  "score": -1, "name": "a",      "tags": ["x"]}""",
      """{"k": 3, "state": "done", "score": 10, "name": "toolong", "meta": {"depth": 9}}""",
      """{"k": 4, "state": "new",  "name": "UPPER"}"""
    ).toDS())
    val errs = v.annotate(df).select("k", "_validation_errors").collect()
      .map(r => r.getLong(0) -> Option(r.getAs[scala.collection.Seq[String]](1)).map(_.toSeq).getOrElse(Nil)).toMap
    assert(errs(1L) === Nil)
    assert(errs(2L).exists(_.contains("not one of the enum")))
    assert(errs(2L).exists(_.contains("less than the minimum")))
    assert(errs(2L).exists(_.contains("shorter than minLength")))
    assert(errs(3L).exists(_.contains("greater than or equal to the exclusive maximum")))
    assert(errs(3L).exists(_.contains("longer than maxLength")))
    // nested: depth > 3 and missing required owner, both at their dot paths
    assert(errs(3L).exists(e => e.startsWith("meta:") && e.contains("'owner' is a required property")))
    assert(errs(3L).exists(e => e.startsWith("meta.depth:") && e.contains("greater than the maximum")))
    assert(errs(4L).exists(_.contains("does not match pattern")))
    // doc 4 has no meta at all: nested required must NOT fire (guard)
    assert(!errs(4L).exists(_.contains("owner")))
    // array with wrong item type (separate frame: item type is static)
    val bad = s.read.json(Seq("""{"k": 9, "state": "new", "tags": [1, 2]}""").toDS())
    val e9 = v.annotate(bad).collect()(0).getAs[scala.collection.Seq[String]]("_validation_errors")
    assert(e9 != null)
    assert(e9.exists(e => e.startsWith("tags:") && e.contains("not of type 'string'")))
  }

  test("ValidatingStore: invalid docs never stored; rejects sink gets the trail (mongolike.py:378-391)") {
    val s = spark; import s.implicits._
    import graft.store.views.ValidatingStore
    val inner = new MemoryStore(spark, "inner", key = "k", lastUpdatedField = "lu")
    val rejects = new MemoryStore(spark, "rej", key = "k", lastUpdatedField = "lu")
    val v = new DocValidator(Seq(
      FieldRule("k", required = true),
      FieldRule("score", min = Some(0.0))))
    val vs = new ValidatingStore(inner, v, Some(rejects))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    vs.update(Seq((1L, 5.0, t0), (2L, -3.0, t0), (3L, 1.0, t0)).toDF("k", "score", "lu"))
    assert(inner.df.select("k").collect().map(_.getLong(0)).sorted === Array(1L, 3L))
    val rej = rejects.df.collect()
    assert(rej.length === 1 && rej(0).getAs[Long]("k") === 2L)
    assert(rej(0).getAs[String]("_validation_errors").contains("below minimum"))
    // strict contract aborts the write, stores nothing new
    val strictStore = new ValidatingStore(inner, new DocValidator(v.rules, strict = true))
    intercept[IllegalArgumentException] {
      strictStore.update(Seq((9L, -1.0, t0)).toDF("k", "score", "lu"))
    }
    assert(inner.count() === 2)
  }

  test("BlobStore: zlib round-trip, newest-per-key, metadata criteria (gridfs.py:41-536)") {
    val s = spark; import s.implicits._
    val bs = new BlobStore(spark, tmp("graft_blob"), key = "k",
      lastUpdatedField = "lu", searchableFields = Seq("tag"), compression = true)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    bs.put(Seq((1L, "hello world", "a", t0), (2L, "spark blobs", "b", t0))
      .toDF("k", "content", "tag", "lu"))
    bs.put(Seq((2L, "spark blobs v2", "b", t1)).toDF("k", "content", "tag", "lu"))
    assert(bs.count() === 2) // newest-per-key (gridfs.py:407-408)
    val r2 = bs.inflated(bs.query("""{"tag": "b"}""")).collect()(0)
    assert(new String(r2.getAs[Array[Byte]]("payload"), "UTF-8") === "spark blobs v2")
    val meta = bs.df.filter(col("k") === 2L)
      .select("metadata.compression", "metadata.length", "metadata.lu").collect()(0)
    assert(meta.getString(0) === "zlib")
    assert(meta.getLong(1) === "spark blobs v2".length.toLong) // raw length, not compressed
    assert(bs.lastUpdated.get === t1)
    // bare fields gain metadata.; key and $ops survive (gridfs.py:191-199)
    assert(BlobStore.transformCriteria(
      """{"tag":"b","k":1,"$or":[{"lu":{"$gt":3}}]}""", "k") ===
      """{"metadata.tag":"b","k":1,"$or":[{"metadata.lu":{"$gt":3}}]}""")
    bs.removeDocs("""{"tag": "a"}""")
    assert(bs.count() === 1)
  }

  test("ensureIndex: key-sorted layout prunes point lookups to one row group (S8)") {
    import scala.jdk.CollectionConverters._
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("pq_idx").toString
    val st = new graft.store.ParquetStore(spark, root, key = "k", lastUpdatedField = "lu")
    st.ensureIndex("k")
    st.update((1L to 10000L).map(k => (k, 1L)).toDF("k", "lu"))
    val target = 7777L
    // footer check: with the range-partitioned sorted layout, the [min,max]
    // of exactly one row group across the store can contain the key — the
    // property parquet predicate pushdown prunes on
    val conf = spark.sessionState.newHadoopConf()
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "_current")).trim
    val dir = new org.apache.hadoop.fs.Path(s"$root/$cur")
    val fs = dir.getFileSystem(conf)
    var total = 0; var candidates = 0
    fs.listStatus(dir).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try r.getFooter.getBlocks.asScala.foreach { b =>
          total += 1
          val stats = b.getColumns.asScala
            .find(_.getPath.toDotString == "k").get.getStatistics
          val mn = stats.genericGetMin.asInstanceOf[java.lang.Long]
          val mx = stats.genericGetMax.asInstanceOf[java.lang.Long]
          if (mn <= target && target <= mx) candidates += 1
        } finally r.close()
      }
    assert(total > 1)       // genuinely multi-row-group store
    assert(candidates === 1) // clustered layout: one candidate group
    // bloom filters ride every indexed column (secondary-field point
    // lookups can't use the min/max clustering — the bloom restores
    // row-group skipping for them); non-indexed columns carry none
    var bloomIdx = 0; var bloomOther = 0; var groups = 0
    fs.listStatus(dir).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try r.getFooter.getBlocks.asScala.foreach { b =>
          groups += 1
          val byCol = b.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
          if (byCol("k").getBloomFilterOffset >= 0) bloomIdx += 1
          if (byCol("lu").getBloomFilterOffset >= 0) bloomOther += 1
        } finally r.close()
      }
    assert(bloomIdx === groups)  // every row group: bloom on the indexed col
    assert(bloomOther === 0)     // none on the unindexed col
    // incremental upsert keeps the layout (writeVersion re-sorts)
    st.update(Seq((20000L, 2L)).toDF("k", "lu"))
    assert(st.query(s"""{"k": $target}""").collect().map(_.getLong(0)).toSeq === Seq(target))
  }

  test("ParquetStore.writeVersion closes directory streams (no fd growth across versions)") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("pq_fd_leak").toString
    val st = new graft.store.ParquetStore(spark, root, key = "k", lastUpdatedField = "lu")
    def fdsAt(path: String): Int =
      new java.io.File("/proc/self/fd").listFiles().count { f =>
        try java.nio.file.Files.readSymbolicLink(f.toPath).toString.startsWith(path)
        catch { case _: Throwable => false }
      }
    (1 to 40).foreach(i => st.update(Seq((1L, i.toLong)).toDF("k", "lu")))
    // before the try/finally fix every GC'd write leaked a Files.list
    // stream on root (≥ 38 here); closed streams leave at most transients
    assert(st.count() === 1)
    assert(fdsAt(root) <= 2)
  }

  test("Multimodal image decode: javax.imageio round-trip on a generated PNG; stub for the rest") {
    val s = spark; import s.implicits._
    // 4x2 PNG: left half pure red, right half pure blue — known statistics
    val img = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, if (x < 2) 0xFF0000 else 0x0000FF)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val textBytes = "not an image".getBytes("UTF-8")
    val df = Seq((1L, png), (2L, textBytes)).toDF("doc_id", "payload")
    val packed = graft.ext.Multimodal.pack(df, "doc_id", col("payload"), "image")
    val rows = graft.ext.Multimodal.extractFeatures(packed).collect()
    val feats = rows.map(r => r.getAs[Long]("media_id") ->
      r.getSeq[Double](1).toArray).toMap
    val how = rows.map(r => r.getAs[Long]("media_id") ->
      r.getAs[String]("decode")).toMap
    // real decode: [w, h, bands, mean_r, mean_g, mean_b, mean_luma, std_luma]
    val f = feats(1L)
    assert(f(0) === 4.0 && f(1) === 2.0 && f(2) === 3.0)
    assert(f(3) === 127.5 && f(4) === 0.0 && f(5) === 127.5) // half red, half blue
    val lumaR = 0.299 * 255; val lumaB = 0.114 * 255
    assert(math.abs(f(6) - (lumaR + lumaB) / 2) < 1e-9)
    assert(math.abs(f(7) - math.abs(lumaR - lumaB) / 2) < 1e-9)
    // an image-modality payload ImageIO cannot parse falls back to the
    // stub AND is fenced as such in the decode column
    assert(feats(2L).toSeq === graft.ext.Multimodal.stubDecode(textBytes).toSeq)
    assert(how(1L) === "image" && how(2L) === "stub")
    // video modality rides the stub even for decodable payloads — and the
    // decode fence marks it, so curation can filter fake features out
    val video = graft.ext.Multimodal.extractFeatures(
      graft.ext.Multimodal.pack(df.filter(col("doc_id") === 1L), "doc_id",
        col("payload"), "video")).collect()(0)
    assert(video.getSeq[Double](1).toSeq ===
      graft.ext.Multimodal.stubDecode(png).toSeq)
    assert(video.getAs[String]("decode") === "stub")
  }

  test("Multimodal resize: area-average luma grid on a generated PNG; stub fenced") {
    val s = spark; import s.implicits._
    // 4x4 PNG, top-left 2x2 quadrant white, rest black: resizing to 2x2
    // must yield exactly [255, 0, 0, 0] (each target cell averages one
    // uniform source quadrant)
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4)
      img.setRGB(x, y, if (x < 2 && y < 2) 0xFFFFFF else 0x000000)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val textBytes = "not an image".getBytes("UTF-8")
    val df = Seq((1L, png), (2L, textBytes)).toDF("doc_id", "payload")
    val packed = graft.ext.Multimodal.pack(df, "doc_id", col("payload"), "image")
    val rows = graft.ext.Multimodal.resizeImages(packed, gridW = 2, gridH = 2)
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    val ok = rows(1L)
    assert(ok.getAs[String]("decode") === "image")
    assert(ok.getAs[Int]("width") === 4 && ok.getAs[Int]("height") === 4)
    // white luma = 0.299*255 + 0.587*255 + 0.114*255 = 255
    assert(ok.getSeq[Double](3).map(v => math.rint(v * 1e9) / 1e9) ===
      Seq(255.0, 0.0, 0.0, 0.0))
    val stub = rows(2L)
    assert(stub.getAs[String]("decode") === "stub")
    assert(stub.getSeq[Double](3).toArray.toSeq ===
      graft.ext.Multimodal.stubGrid(textBytes, 2, 2).toSeq)
    // non-square shrink with uneven box boundaries: 4x4 -> 3x1 splits
    // columns at floor(i*4/3) into footprints {0}, {1}, {2,3} (a
    // disjoint cover — every source pixel counted exactly once); over
    // all rows the top-left-white image averages to 127.5, 127.5, 0
    val wide = graft.ext.Multimodal.resizeImages(
      packed.filter(col("media_id") === 1L), gridW = 3, gridH = 1)
      .collect()(0).getSeq[Double](3)
    assert(wide.map(v => math.rint(v * 1e6) / 1e6) === Seq(127.5, 127.5, 0.0))
    // constant-color invariance: any grid over a uniform image is uniform
    val grey = new java.awt.image.BufferedImage(5, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 3; x <- 0 until 5) grey.setRGB(x, y, 0x808080)
    val gb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(grey, "png", gb)
    val g = graft.ext.Multimodal.resizeImages(
      graft.ext.Multimodal.pack(Seq((9L, gb.toByteArray)).toDF("doc_id", "payload"),
        "doc_id", col("payload"), "image"), gridW = 2, gridH = 2)
      .collect()(0).getSeq[Double](3)
    assert(g.distinct.size === 1)
  }

  test("Multimodal imageHash: dHash bits from the decoded grid; twin within 2 bits") {
    val s = spark; import s.implicits._
    import graft.ext.Multimodal
    // the fixture contract: cell gray = md5_15("seed:cell") mod 256, so
    // the expected dHash packs from integer comparisons the test
    // re-derives independently of the decode path
    def gray(seed: Long, cell: Int): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$seed:$cell".getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 256).toInt
    }
    def expectedHash(g: Int => Int): Long =
      (for (y <- 0 until 8; x <- 0 until 7) yield
        if (g(y * 8 + x + 1) > g(y * 8 + x)) 1L << (y * 7 + x) else 0L).sum
    val df = Seq(
      (7L, Multimodal.syntheticCellBmp(7L)),
      (1000007L, Multimodal.syntheticCellBmp(7L, perturbCell = 0)),
      (8L, Multimodal.syntheticCellBmp(8L))).toDF("doc_id", "img")
    val got = Multimodal.imageHash(
      Multimodal.pack(df, "doc_id", col("img"), "image"))
      .collect().map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("simhash"), r.getAs[String]("decode"))).toMap
    assert(got.values.forall(_._2 === "image")) // real decode, no stub
    assert(got(7L)._1 === expectedHash(gray(7L, _)))
    assert(got(8L)._1 === expectedHash(gray(8L, _)))
    assert(got(1000007L)._1 === expectedHash(c =>
      if (c == 0) (gray(7L, 0) + 128) % 256 else gray(7L, c)))
    // a one-cell perturbation flips at most that cell's two horizontal
    // comparisons — the planted twin is always within hamming 2
    assert(java.lang.Long.bitCount(got(7L)._1 ^ got(1000007L)._1) <= 2)
    // hashes stay in the non-negative 56-bit range (sign-safe replay)
    assert(got.values.forall(v => v._1 >= 0L && v._1 < (1L << 56)))
  }

  test("Multimodal audio decode: javax.sound.sampled round-trip on a generated WAV") {
    val s = spark; import s.implicits._
    // 16-bit PCM mono 8 kHz, 0.1 s of a 400 Hz half-amplitude sine
    val rate = 8000f; val n = 800; val freq = 400.0; val amp = 0.5
    val samples = Array.tabulate(n)(i =>
      (amp * math.sin(2 * math.Pi * freq * i / rate) * 32767).toShort)
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val pcm = java.nio.ByteBuffer.allocate(n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(pcm.putShort)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm.array()), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray
    val df = Seq((1L, wav), (2L, "not audio".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val rows = graft.ext.Multimodal.extractFeatures(
      graft.ext.Multimodal.pack(df, "doc_id", col("payload"), "audio"))
      .collect()
    val feats = rows.map(r => r.getAs[Long]("media_id") ->
      r.getSeq[Double](1).toArray).toMap
    // [sample_rate, channels, frames, bits, mean, rms, peak, zcr]
    val f = feats(1L)
    assert(f(0) === 8000.0 && f(1) === 1.0 && f(2) === 800.0 && f(3) === 16.0)
    assert(math.abs(f(4)) < 1e-3)                         // sine: zero mean
    assert(math.abs(f(5) - amp / math.sqrt(2)) < 1e-3)    // rms = A/sqrt(2)
    assert(math.abs(f(6) - amp) < 1e-3)                   // peak = A
    assert(math.abs(f(7) - 2 * freq / rate) < 0.01)       // zcr = 2f/rate
    // unparseable payload under audio modality falls back to the stub;
    // decode fence distinguishes real decode from fake features
    assert(feats(2L).toSeq ===
      graft.ext.Multimodal.stubDecode("not audio".getBytes("UTF-8")).toSeq)
    val how = rows.map(r => r.getAs[Long]("media_id") ->
      r.getAs[String]("decode")).toMap
    assert(how(1L) === "audio" && how(2L) === "stub")
  }

  test("Multimodal video decode: animated GIF frames + MJPEG-in-AVI RIFF walk") {
    val s = spark; import s.implicits._
    def flat(w: Int, h: Int, rgb: Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      img
    }
    // 3-frame animated GIF: black -> mid gray -> white (lumas 0/128/255)
    val gifOut = new java.io.ByteArrayOutputStream()
    val gw = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(gifOut)
    gw.setOutput(ios)
    gw.prepareWriteSequence(null)
    Seq(0x000000, 0x808080, 0xFFFFFF).foreach { c =>
      gw.writeToSequence(new javax.imageio.IIOImage(flat(4, 2, c), null, null), null)
    }
    gw.endWriteSequence(); gw.dispose(); ios.close()
    val gif = gifOut.toByteArray
    // 2-frame MJPEG AVI: RIFF(AVI ) > LIST(movi) > 00dc jpeg chunks
    def jpeg(rgb: Int) = {
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(flat(4, 2, rgb), "jpg", b)
      b.toByteArray
    }
    val (j0, j1) = (jpeg(0x808080), jpeg(0xFFFFFF))
    def chunk(id: String, body: Array[Byte]) = {
      val pad = body.length & 1
      val bb = java.nio.ByteBuffer.allocate(8 + body.length + pad)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(id.getBytes("US-ASCII")).putInt(body.length).put(body)
      bb.array()
    }
    val moviBody = "movi".getBytes("US-ASCII") ++ chunk("00dc", j0) ++ chunk("00dc", j1)
    val listChunk = chunk("LIST", moviBody)
    val avi = {
      val bb = java.nio.ByteBuffer.allocate(12 + listChunk.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + listChunk.length)
        .put("AVI ".getBytes("US-ASCII")).put(listChunk)
      bb.array()
    }
    val h264ish = Array[Byte](0, 0, 0, 1, 0x67, 0x42, 0, 30) ++
      Array.fill[Byte](64)(0x5A)
    val df = Seq((1L, gif), (2L, avi), (3L, h264ish)).toDF("doc_id", "payload")
    val rows = graft.ext.Multimodal.extractFeatures(
      graft.ext.Multimodal.pack(df, "doc_id", col("payload"), "video")).collect()
    val feats = rows.map(r => r.getAs[Long]("media_id") ->
      r.getSeq[Double](1).toArray).toMap
    val how = rows.map(r => r.getAs[Long]("media_id") ->
      r.getAs[String]("decode")).toMap
    // [n_frames, w, h, n_decoded, mean_luma, std_luma, mean_delta, tag]
    val g = feats(1L)
    assert(g(0) === 3.0 && g(1) === 4.0 && g(2) === 2.0 && g(3) === 3.0)
    assert(math.abs(g(4) - (0.0 + 128.0 + 255.0) / 3) < 1.0)
    assert(math.abs(g(6) - 127.5) < 1.0) // |128-0|, |255-128| averaged
    assert(g(7) === 1.0 && how(1L) === "video")
    val a = feats(2L)
    assert(a(0) === 2.0 && a(1) === 4.0 && a(2) === 2.0 && a(3) === 2.0)
    assert(math.abs(a(4) - (128.0 + 255.0) / 2) < 8.0) // JPEG is lossy
    assert(a(6) > 100.0 && a(7) === 2.0 && how(2L) === "video")
    // no JVM codec for H.264-class payloads: stub features, fenced
    assert(feats(3L).toSeq === graft.ext.Multimodal.stubDecode(h264ish).toSeq)
    assert(how(3L) === "stub")
  }
}
