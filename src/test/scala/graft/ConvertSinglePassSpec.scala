package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.IdentityHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{CsvIngest, ParquetSink, S3Conf}

/** `ConvertPipeline`'s one conversion engine, behind `convert`, `run`
  * and `convertChecked`, parses each CSV once, its observed per-file
  * counts equal a recount, its outputs keep file order, its checkpoint
  * never outlives the call, a failed write fails only its own file,
  * and `upload` copies the converted files byte for byte. */
class ConvertSinglePassSpec extends SparkSpec {

  private val schema = graft.schema.SchemaLoader.fromJson(
    """{"fields": [
      |  {"name": "id", "type": "INT32", "repetition": "REQUIRED"},
      |  {"name": "name", "type": "BINARY", "logicalType": "STRING"},
      |  {"name": "age", "type": "INT32"}
      |]}""".stripMargin)

  /** Three files: good rows everywhere, a failed cast in a.csv, a
    * malformed (over-long) line and a short row in b.csv. */
  private def mkCsvDir(): String = {
    val dir = tmpDir("single_src")
    def put(name: String, body: String): Unit =
      Files.write(Paths.get(dir, name), body.getBytes("UTF-8"))
    put("a.csv", "id,name,age\n1,Alice,25\n2,Bob,NaN\n3,Cara,35")
    put("b.csv", "id,name,age\n4,Dan,40\n5,Eve,41,extra\n6,Fay")
    put("c.csv", "id,name,age\n7,Gus,50\n8,Ivy,52")
    put("notes.txt", "ignored")
    dir
  }

  private def config(src: String, preserve: Boolean = true,
      quarantine: Boolean = true) =
    ConvertPipeline.Config(src, tmpDir("single_out"), schema,
      preserveFileNames = preserve,
      quarantineDir =
        if (quarantine) Some(tmpDir("single_bad") + "/quarantine") else None)

  /** Counts the CSV scans that produced rows during a call: each
    * distinct `FileSourceScanExec` over CSV in any plan executed in the
    * call (a cached relation's plan included) whose row metric has
    * moved off zero once the call's events have drained. A lazy
    * checkpoint's action is reported with the scan still at 0 rows;
    * the rows arrive later, when the first action over the
    * checkpoint fills it, and that action's own plan reads the stored
    * rows, not the CSV. */
  private class CsvScanCounter extends QueryExecutionListener {
    private val seen = new IdentityHashMap[FileSourceScanExec, Unit]()

    private def csvScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec
          if s.relation.fileFormat.isInstanceOf[CSVFileFormat] => Seq(s)
      case a: AdaptiveSparkPlanExec => csvScans(a.executedPlan)
      case q: QueryStageExec => csvScans(q.plan)
      case m: InMemoryTableScanExec => csvScans(m.relation.cachedPlan)
      case other => (other.children ++ other.subqueries).flatMap(csvScans)
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = synchronized {
      csvScans(qe.executedPlan).foreach(seen.put(_, ()))
    }

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()

    def scansWithRows: Int = synchronized {
      seen.keySet.asScala.count(_.metrics("numOutputRows").value > 0)
    }
  }

  private def csvScanPlans(f: => Unit): Int = {
    val counter = new CsvScanCounter
    spark.listenerManager.register(counter)
    try { f; drainListeners(); counter.scansWithRows }
    finally spark.listenerManager.unregister(counter)
  }

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def staged(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.endsWith(".staging"))

  test("each CSV is parsed once: one executed plan per call scans CSV") {
    val src = mkCsvDir()
    val before = persisted
    for (preserve <- Seq(true, false)) {
      val cfg = config(src, preserve)
      assert(csvScanPlans(ConvertPipeline.convertChecked(spark, cfg)) == 1,
        s"preserveFileNames=$preserve")
      assert(persisted == before, s"preserveFileNames=$preserve")
      for (quarantine <- Seq(false, true)) {
        val what = s"preserveFileNames=$preserve quarantine=$quarantine"
        assert(csvScanPlans(ConvertPipeline.convert(spark,
          config(src, preserve, quarantine))) == 1, s"convert $what")
        assert(csvScanPlans(ConvertPipeline.run(spark,
          config(src, preserve, quarantine))) == 1, s"run $what")
        assert(persisted == before, what)
      }
    }
    // negative control: two reads of the same files are two scans
    val csvs = ConvertPipeline.discoverCsvs(src)
    assert(csvScanPlans {
      CsvIngest.readChecked(spark, csvs, schema).count()
      CsvIngest.readChecked(spark, csvs, schema).count()
    } == 2)
  }

  test("each 1:1 output holds its file's good rows in file order") {
    val src = tmpDir("order_src")
    val rnd = new scala.util.Random(16)
    // ids in a shuffled order, so that no sort can pass for file order
    val ids = rnd.shuffle((1 to 25000).toVector)
    def body(part: Seq[Int]): String = part.map { id =>
      if (id % 997 == 0) s"$id,bad$id,NaN" else s"$id,n$id,${id % 90}"
    }.mkString("id,name,age\n", "\n", "\n")
    // big.csv: more rows than one columnar cache batch (10 000) holds
    val files = Seq("big" -> ids.take(22000), "s1" -> ids.slice(22000, 23500),
      "s2" -> ids.drop(23500))
    for ((name, part) <- files)
      Files.write(Paths.get(src, s"$name.csv"), body(part).getBytes("UTF-8"))
    def check(what: String): Unit = {
      val cfg = config(src)
      ConvertPipeline.convertChecked(spark, cfg)
      for ((name, part) <- files) {
        val back = spark.read.parquet(s"${cfg.parquetDir}/$name.parquet")
          .collect().map(_.getInt(0)).toSeq
        assert(back == part.filter(_ % 997 != 0), s"$what $name.parquet")
      }
    }
    check("one split per file")
    // 16 KB splits: big.csv's rows arrive in several scan partitions
    GraftSession.withConf(spark,
      "spark.sql.files.maxPartitionBytes" -> (16 * 1024).toString) {
      assert(CsvIngest.readChecked(spark, ConvertPipeline.discoverCsvs(src),
        schema).rdd.getNumPartitions > 3)
      check("16 KB splits")
    }
  }

  test("a failed quarantine write fails the call before any 1:1 write") {
    val src = mkCsvDir()
    val blocker = Paths.get(tmpDir("single_bad"), "file")
    Files.write(blocker, "not a directory".getBytes("UTF-8"))
    val cfg = config(src).copy(quarantineDir = Some(s"$blocker/quarantine"))
    val before = persisted
    intercept[Exception] {
      ConvertPipeline.convertChecked(spark, cfg)
    }
    assert(persisted == before, "a checkpoint outlived the failed call")
    assert(new java.io.File(cfg.parquetDir).list().isEmpty)
  }

  test("without quarantine, convert writes every row as CsvIngest.read reads it") {
    val src = mkCsvDir()
    // broken RFC-4180 quoting, next to the fixture's bad cast,
    // over-long line and short row
    Files.write(Paths.get(src, "d.csv"),
      "id,name,age\n9,\"Hal,60\n10,Jo,61".getBytes("UTF-8"))
    val csvs = ConvertPipeline.discoverCsvs(src)
    val cfg = config(src, quarantine = false)
    val produced = ConvertPipeline.convert(spark, cfg)
    assert(produced == csvs.map(c =>
      s"${cfg.parquetDir}/" + new java.io.File(c).getName
        .replace(".csv", ".parquet")))
    for ((csv, target) <- csvs.zip(produced)) {
      val expected = CsvIngest.read(spark, csv, schema)
      val back = spark.read.parquet(target)
      assert(back.columns.toSeq == expected.columns.toSeq, target)
      assert(rows(back) == rows(expected), target)
    }
    val bulk = config(src, preserve = false, quarantine = false)
    assert(ConvertPipeline.convert(spark, bulk) == Seq(bulk.parquetDir))
    assert(rows(spark.read.parquet(bulk.parquetDir)) ==
      rows(CsvIngest.readAll(spark, csvs, schema)))
  }

  test("run with an occupied target returns only that source; the others convert") {
    val src = mkCsvDir()
    val cfg = config(src, quarantine = false)
    Files.createDirectories(Paths.get(cfg.parquetDir, "b.parquet", "occupied"))
    val before = persisted
    assert(ConvertPipeline.run(spark, cfg) == Seq(s"$src/b.csv"))
    assert(persisted == before, "a checkpoint outlived the call")
    for (name <- Seq("a", "c"))
      assert(rows(spark.read.parquet(s"${cfg.parquetDir}/$name.parquet")) ==
        rows(CsvIngest.read(spark, s"$src/$name.csv", schema)), name)
    assert(staged(cfg.parquetDir).isEmpty)
  }

  test("observed counts equal a recount; quarantine holds exactly the bad rows") {
    val src = mkCsvDir()
    val before = persisted
    for (preserve <- Seq(true, false)) {
      val cfg = config(src, preserve)
      val reports = ConvertPipeline.convertChecked(spark, cfg)
      assert(persisted == before, "a checkpoint outlived the call")
      val csvs = ConvertPipeline.discoverCsvs(src)
      assert(reports.map(_.source) == csvs)
      assert(reports.map(r => (r.rows, r.quarantined)) ==
        Seq((3L, 1L), (3L, 1L), (2L, 0L)))
      for (r <- reports) {
        val fresh = CsvIngest.readChecked(spark, Seq(r.source), schema)
        assert(r.rows == fresh.count(), r.source)
        assert(r.quarantined ==
          fresh.filter(col(CsvIngest.ReasonCol).isNotNull).count(), r.source)
      }
      val all = CsvIngest.readChecked(spark, csvs, schema)
      assert(rows(spark.read.parquet(cfg.quarantineDir.get)) ==
        rows(CsvIngest.badRows(all, schema)))
      if (preserve) for (r <- reports)
        assert(rows(spark.read.parquet(r.target)) == rows(CsvIngest.goodRows(
          CsvIngest.readChecked(spark, Seq(r.source), schema), schema)))
      else
        assert(rows(spark.read.parquet(cfg.parquetDir)) ==
          rows(CsvIngest.goodRows(all, schema)))
    }
  }

  test("a failed write fails the call after every write settled; no cache is left") {
    val cfg = config(mkCsvDir())
    // A non-empty directory at b's target makes its move fail.
    Files.createDirectories(Paths.get(cfg.parquetDir, "b.parquet", "occupied"))
    val before = persisted
    intercept[java.io.IOException] {
      ConvertPipeline.convertChecked(spark, cfg)
    }
    assert(persisted == before, "a checkpoint outlived the failed call")
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    for (name <- Seq("a.parquet", "c.parquet"))
      assert(Files.isRegularFile(Paths.get(cfg.parquetDir, name)), name)
    assert(staged(cfg.parquetDir).isEmpty)
  }

  test("discovery and upload go through the Hadoop FileSystem API; upload is a byte copy") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[MockS3AFileSystem].getName)
    try {
      val src = mkCsvDir()
      val listed = ConvertPipeline.discoverCsvs(s"s3a://copy-bucket$src")
      assert(listed == Seq("a", "b", "c").map(n => s"s3a://copy-bucket$src/$n.csv"))

      val bucketRoot = tmpDir("copy_bucket")
      val key = bucketRoot.stripPrefix("/") + "/up"
      val remote = Paths.get(bucketRoot, "up")
      Files.createDirectories(remote)
      Files.write(remote.resolve("stale.parquet"), "old".getBytes("UTF-8"))
      val cfg = config(src).copy(
        s3 = Some(S3Conf.S3Settings(bucket = "copy-bucket", prefix = key)))
      ConvertPipeline.convertChecked(spark, cfg)
      assert(ConvertPipeline.upload(spark, cfg).contains(s"s3a://copy-bucket/$key"))

      def sha256(p: java.nio.file.Path): String =
        MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
          .map("%02x".format(_)).mkString
      def names(dir: java.nio.file.Path): Seq[String] =
        Files.list(dir).iterator().asScala.map(_.getFileName.toString)
          .toSeq.sorted
      val local = Paths.get(cfg.parquetDir)
      assert(names(local) == Seq("a.parquet", "b.parquet", "c.parquet"))
      assert(names(remote) == "_SUCCESS" +: names(local))
      for (n <- names(local))
        assert(sha256(remote.resolve(n)) == sha256(local.resolve(n)), n)
      assert(spark.read.parquet(s"s3a://copy-bucket/$key").count() == 6)
    } finally hc.unset("fs.s3a.impl")
  }

  test("writeSingleFile moves through the Hadoop FileSystem API: an s3a:// target gets one file") {
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[MockS3AFileSystem].getName)
    try {
      val dir = tmpDir("single_s3a")
      val source = (1 to 25).map(i => (i, s"n$i")).toDF("id", "name")
      val target = s"s3a://single-bucket$dir/x.parquet"
      ParquetSink.writeSingleFile(source, target)
      assert(new java.io.File(dir).list().toSeq == Seq("x.parquet"))
      assert(Files.isRegularFile(Paths.get(dir, "x.parquet")))
      assert(rows(spark.read.parquet(target)) == rows(source))
    } finally hc.unset("fs.s3a.impl")
  }
}
