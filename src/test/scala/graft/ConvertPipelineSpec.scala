package graft

import java.nio.file.{Files, Paths}
import java.util.Properties

import graft.sources.S3Conf

/** EP1 pipeline semantics (SURVEY §3): discovery, empty-dir error,
  * 1:1 file naming, properties plumbing, S3 config mapping. */
class ConvertPipelineSpec extends SparkSpec {

  private val schemaJson =
    """{"fields": [
      |  {"name": "id", "type": "INT32", "repetition": "REQUIRED"},
      |  {"name": "name", "type": "BINARY", "logicalType": "STRING"},
      |  {"name": "age", "type": "INT32"}
      |]}""".stripMargin

  private def mkCsvDir(): String = {
    val dir = tmpDir("conv_src")
    Files.write(Paths.get(dir, "sample1.csv"),
      "id,name,age\n1,Alice,25\n2,Bob,30".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "sample2.csv"),
      "id,name,age\n3,Carol,35\n4,,40".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "notes.txt"), "ignored".getBytes("UTF-8"))
    dir
  }

  test("discovery keeps only *.csv and errors on empty dir (Main.java:34-40)") {
    val dir = mkCsvDir()
    val found = ConvertPipeline.discoverCsvs(dir)
    assert(found.size == 2)
    assert(found.forall(_.endsWith(".csv")))
    val empty = tmpDir("conv_empty")
    intercept[java.io.FileNotFoundException] {
      ConvertPipeline.discoverCsvs(empty)
    }
    intercept[java.io.FileNotFoundException] {
      ConvertPipeline.discoverCsvs("/no/such/dir")
    }
  }

  test("1:1 output naming: x.csv → x.parquet (P9)") {
    val out = tmpDir("conv_out")
    val cfg = ConvertPipeline.Config(mkCsvDir(), out,
      graft.schema.SchemaLoader.fromJson(schemaJson))
    val produced = ConvertPipeline.convert(spark, cfg)
    assert(produced.map(p => Paths.get(p).getFileName.toString).sorted ==
      Seq("sample1.parquet", "sample2.parquet"))
    assert(Files.isRegularFile(Paths.get(out, "sample1.parquet")))
    val back = spark.read.parquet(s"$out/sample1.parquet")
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("id", "name", "age"))
    // empty cell in sample2 row 4 → NULL
    val s2 = spark.read.parquet(s"$out/sample2.parquet")
    assert(s2.filter("name IS NULL").count() == 1)
  }

  test("bulk (scale) mode writes one dataset") {
    val out = tmpDir("conv_bulk")
    val cfg = ConvertPipeline.Config(mkCsvDir(), out,
      graft.schema.SchemaLoader.fromJson(schemaJson),
      preserveFileNames = false)
    ConvertPipeline.convert(spark, cfg)
    assert(spark.read.parquet(out).count() == 4)
  }

  test("properties → config incl. s3 settings (application.properties keys)") {
    val p = new Properties()
    p.setProperty("SourceFilePath", "/src")
    p.setProperty("ParquetFilePath", "/out")
    p.setProperty("bucketName", "bkt")
    p.setProperty("prefix", "pre")
    p.setProperty("s3.endpoint", "https://s3.example.com:9021")
    p.setProperty("s3.region", "custom")
    p.setProperty("s3.accessKey", "ak")
    p.setProperty("s3.secretKey", "sk")
    val schemaFile = Paths.get(tmpDir("conv_props"), "schema.json")
    Files.write(schemaFile, schemaJson.getBytes("UTF-8"))
    val cfg = ConvertPipeline.configFrom(p, schemaFile.toString)
    assert(cfg.sourceDir == "/src" && cfg.parquetDir == "/out")
    assert(cfg.schema.fieldNames.toSeq == Seq("id", "name", "age"))
    val s3 = cfg.s3.get
    assert(s3.uri == "s3a://bkt/pre")
    assert(s3.endpoint.contains("https://s3.example.com:9021"))
    // fail-fast parity (Main.java:30-32): missing path keys error out
    val missing = new Properties()
    missing.setProperty("ParquetFilePath", "/out")
    val ex = intercept[java.io.IOException] {
      ConvertPipeline.configFrom(missing, schemaFile.toString)
    }
    assert(ex.getMessage.contains("SourceFilePath"))
  }

  test("convertChecked diverts bad rows to quarantine with per-file report") {
    val dir = tmpDir("conv_q_src")
    Files.write(Paths.get(dir, "a.csv"),
      "id,name,age\n1,Alice,25\n2,Bob,NaN".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "b.csv"),
      "id,name,age\n3,Cara,35".getBytes("UTF-8"))
    val out = tmpDir("conv_q_out")
    val q = tmpDir("conv_q_bad") + "/quarantine"
    val cfg = ConvertPipeline.Config(dir, out,
      graft.schema.SchemaLoader.fromJson(schemaJson),
      quarantineDir = Some(q))
    val report = ConvertPipeline.convertChecked(spark, cfg).sortBy(_.source)
    assert(report.map(r => (r.rows, r.quarantined)) == Seq((2L, 1L), (1L, 0L)))
    // good rows only in the converted outputs
    assert(spark.read.parquet(s"$out/a.parquet").count() == 1)
    assert(spark.read.parquet(s"$out/b.parquet").count() == 1)
    // the bad row is in quarantine with raw cells + file + reason
    val badDf = spark.read.parquet(q)
    assert(badDf.count() == 1)
    val b = badDf.collect().head
    assert(b.getAs[String]("_bad_reason") == "bad_cast:age")
    assert(b.getAs[String]("_raw_age") == "NaN")
    assert(b.getAs[String]("_src_file").contains("a.csv"))
  }

  test("end-to-end upload through an s3a:// URI (K3/X2, mock object store)") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[MockS3AFileSystem].getName)
    try {
      val bucketRoot = tmpDir("mock_bucket")
      val key = bucketRoot.stripPrefix("/") + "/upload"
      val out = tmpDir("conv_s3_local")
      val cfg = ConvertPipeline.Config(mkCsvDir(), out,
        graft.schema.SchemaLoader.fromJson(schemaJson),
        s3 = Some(S3Conf.S3Settings(bucket = "test-bucket", prefix = key)))
      ConvertPipeline.run(spark, cfg) // convert THEN upload to s3a://
      val back = spark.read.parquet(s"s3a://test-bucket/$key")
      assert(back.count() == 4)
      assert(back.columns.toSeq == Seq("id", "name", "age"))
      // objects physically landed under the bucket-mapped local root,
      // marked done (_SUCCESS) by the upload after its last file copy
      assert(Files.exists(Paths.get(bucketRoot, "upload", "_SUCCESS")))
    } finally hc.unset("fs.s3a.impl")
  }

  test("S3 settings land in hadoopConfiguration as fs.s3a.* (K3)") {
    S3Conf.configure(spark, S3Conf.S3Settings(
      bucket = "bkt", prefix = "pre",
      endpoint = Some("https://s3.example.com:9021"),
      region = Some("custom"),
      accessKey = Some("ak"), secretKey = Some("sk")))
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.endpoint") == "https://s3.example.com:9021")
    assert(hc.get("fs.s3a.access.key") == "ak")
    assert(hc.get("fs.s3a.secret.key") == "sk")
    assert(hc.get("fs.s3a.path.style.access") == "true")
  }

  test("run names the source that failed to convert; the others still convert") {
    val out = tmpDir("conv_fail_out")
    // A non-empty directory at sample2's target makes its move fail.
    Files.createDirectories(Paths.get(out, "sample2.parquet", "occupied"))
    val cfg = ConvertPipeline.Config(mkCsvDir(), out,
      graft.schema.SchemaLoader.fromJson(schemaJson))
    val failed = ConvertPipeline.run(spark, cfg)
    assert(failed.map(p => Paths.get(p).getFileName.toString) ==
      Seq("sample2.csv"))
    assert(spark.read.parquet(s"$out/sample1.parquet").count() == 2)
  }
}
