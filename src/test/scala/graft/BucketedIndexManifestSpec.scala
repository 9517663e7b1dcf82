package graft

import graft.similarity.{AnnIndex, DedupIndex, MediaDedupIndex}

/** On-disk manifest compatibility of the bucketed indexes: every fixture
  * below is manifest text exactly as releases before the Jackson codec
  * wrote it (`{"field": value, ...}`, with a hand-rolled escape that
  * handled only `"`, `\` and newline), and each must still load. */
class BucketedIndexManifestSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new org.apache.hadoop.fs.Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeText(path: String, name: String, text: String): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(path, name), true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def exists(path: String, name: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(path, name))

  /** Field names of the live manifest at `path`. */
  private def fieldNames(path: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val in = fs.open(new org.apache.hadoop.fs.Path(path, "index.json"))
    try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      .fieldNames().asScala.toSet
    finally in.close()
  }

  private def docs(lo: Long, hi: Long) = (lo until hi)
    .map(i => (i, s"omega psi chi doc $i tail ${i * 31}"))
    .toDF("doc_id", "text")

  test("a pre-r11 DedupIndex manifest (no version/idCol/DDL fields) loads, " +
       "reads its bucketed tables, and compaction fills in the new fields") {
    val path = tmpDir("mf-pre-r11")
    DedupIndex.build(docs(0L, 30L), "doc_id", "text", path)
    writeText(path, "index.json",
      """{"shingleN": 3, "bands": 16, "rowsPerBand": 4, "numBuckets": 8}""")
    // no DDLs and no idCol: the schema and the id column come from the
    // parquet footers
    DedupIndex.manifest(spark, path) shouldBe DedupIndex.Manifest(3, 16, 4, 8)
    DedupIndex.indexedIds(spark, path).columns shouldBe Array("doc_id")
    DedupIndex.load(spark, path)._1.count() shouldBe 30L
    DedupIndex.dedupBatch(spark, path,
        docs(3L, 4L).withColumn("doc_id", $"doc_id" + 900L),
        "doc_id", "text")
      .select("corpus_id").as[Long].collect() should contain(3L)
    DedupIndex.compact(spark, path)
    val m = DedupIndex.manifest(spark, path)
    (m.version, m.numBuckets, m.idCol) shouldBe ((1, 8, "doc_id"))
    m.fpsDdl shouldBe "doc_id BIGINT,shingle_set ARRAY<STRING>"
    m.bandsDdl shouldBe "doc_id BIGINT,band STRING"
  }

  test("a legacy manifest without numBuckets still routes to the legacy " +
       "rename-published layout") {
    val path = tmpDir("mf-legacy")
    DedupIndex.appendAtomic(docs(0L, 5L), "doc_id", "text", path, "k1")
    writeText(path, "index.json",
      """{"shingleN": 3, "bands": 16, "rowsPerBand": 4}""")
    val m = DedupIndex.manifest(spark, path)
    m shouldBe DedupIndex.Manifest(3, 16, 4)
    m.bucketed shouldBe false
    DedupIndex.load(spark, path)._1.count() shouldBe 5L
    DedupIndex.indexedIds(spark, path).count() shouldBe 5L
    an[IllegalArgumentException] should be thrownBy
      DedupIndex.append(docs(5L, 6L), "doc_id", "text", path)
    DedupIndex.appendAtomic(docs(5L, 7L), "doc_id", "text", path, "k2")
    DedupIndex.load(spark, path)._1.count() shouldBe 7L
    // the legacy manifest is never rewritten into a bucketed one
    fieldNames(path) shouldBe Set("shingleN", "bands", "rowsPerBand")
  }

  test("a crashed manifest replace that left only index.json.tmp is " +
       "present and heals on read, for every index kind") {
    val media = tmpDir("mf-tmp-media")
    writeText(media, "index.json.tmp",
      """{"nBands": 4, "bandBits": 16, "numBuckets": 8, "version": 2""" +
        """, "epoch": 0, "codesDdl": "id BIGINT,code BIGINT"""" +
        """, "bandsDdl": "id BIGINT,code BIGINT,band INT,bkey BIGINT"}""")
    MediaDedupIndex.exists(spark, media) shouldBe true
    MediaDedupIndex.manifest(spark, media) shouldBe MediaDedupIndex.Manifest(
      4, 16, 8, 2, "id BIGINT,code BIGINT",
      "id BIGINT,code BIGINT,band INT,bkey BIGINT")
    exists(media, "index.json") shouldBe true
    exists(media, "index.json.tmp") shouldBe false

    val ann = tmpDir("mf-tmp-ann")
    writeText(ann, "index.json.tmp",
      """{"nTables": 4, "nBits": 6, "dim": 8, "seed": -7""" +
        """, "numBuckets": 16, "version": 1, "epoch": 3""" +
        """, "vecsDdl": "id BIGINT,v ARRAY<DOUBLE>,nrm DOUBLE"""" +
        """, "bandsDdl": "id BIGINT,bkey STRING"}""")
    AnnIndex.exists(spark, ann) shouldBe true
    AnnIndex.manifest(spark, ann) shouldBe AnnIndex.Manifest(4, 6, 8, -7L,
      16, 1, "id BIGINT,v ARRAY<DOUBLE>,nrm DOUBLE", "id BIGINT,bkey STRING")

    val text = tmpDir("mf-tmp-text")
    writeText(text, "index.json.tmp",
      """{"shingleN": 5, "bands": 20, "rowsPerBand": 5, "numBuckets": 32""" +
        """, "version": 3, "epoch": 0, "idCol": "doc_id"""" +
        """, "fpsDdl": "doc_id BIGINT,shingle_set ARRAY<STRING>"""" +
        """, "bandsDdl": "doc_id BIGINT,band STRING"}""")
    DedupIndex.exists(spark, text) shouldBe true
    DedupIndex.manifest(spark, text) shouldBe DedupIndex.Manifest(5, 20, 5,
      32, 3, "doc_id", "doc_id BIGINT,shingle_set ARRAY<STRING>",
      "doc_id BIGINT,band STRING")
  }

  test("a DDL written with a raw tab (and the old escapes for quote, " +
       "backslash and newline) reads back exactly") {
    val ddl = "id BIGINT COMMENT 'a\tb \"q\" c:\\d\ne'"
    // the old escape: only `"`, `\` and newline; the tab stays raw
    val old = ddl.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c    => c.toString
    }
    old should include("\t")
    val path = tmpDir("mf-tab")
    writeText(path, "index.json",
      s"""{"nBands": 2, "bandBits": 32, "numBuckets": 4, "version": 0""" +
        s""", "epoch": 0, "codesDdl": "$old", "bandsDdl": ""}""")
    val m = MediaDedupIndex.manifest(spark, path)
    (m.nBands, m.bandBits, m.numBuckets) shouldBe ((2, 32, 4))
    m.codesDdl shouldBe ddl
    m.bandsDdl shouldBe ""
  }

  test("new manifests keep the field names earlier releases wrote") {
    // less `epoch`, a retired layout field the fixtures above still carry
    val text = tmpDir("mf-names-text")
    DedupIndex.build(docs(0L, 10L), "doc_id", "text", text)
    fieldNames(text) shouldBe Set("shingleN", "bands", "rowsPerBand",
      "numBuckets", "version", "idCol", "fpsDdl", "bandsDdl")
    val media = tmpDir("mf-names-media")
    MediaDedupIndex.build(Seq((1L, 7L)).toDF("media_id", "dhash"),
      "media_id", "dhash", media)
    fieldNames(media) shouldBe Set("nBands", "bandBits", "numBuckets",
      "version", "codesDdl", "bandsDdl")
    val ann = tmpDir("mf-names-ann")
    AnnIndex.build(Seq((1L, Array.fill(8)(1.0))).toDF("vec_id", "emb"),
      "vec_id", "emb", ann, nTables = 2, nBits = 2, dim = 8)
    fieldNames(ann) shouldBe Set("nTables", "nBits", "dim", "seed",
      "numBuckets", "version", "vecsDdl", "bandsDdl")
  }
}
