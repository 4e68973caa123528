package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.Purge
import graft.sources.ParquetSink

class PurgeSpec extends SparkSpec {
  import spark.implicits._

  /** A small purge-able table: 100 rows, half ACTIVE half EXPIRED. */
  private def mkTable(root: String, name: String = "t"): String = {
    val df = (1 to 100).map(i =>
      (i.toLong, if (i % 2 == 0) "EXPIRED" else "ACTIVE"))
      .toDF("id", "status")
    ParquetSink.write(df, s"$root/$name")
    s"$root/$name"
  }

  private def engine(root: String, dryRun: Boolean = false) =
    new Purge.Engine(spark, Purge.DirResolver(root), dryRun)

  private def cfg(criteria: String, max: Long = Long.MaxValue,
      table: String = "t", action: String = "CRITERIA") =
    Purge.PurgeConfig("tester", table, action, criteria, max)

  test("criteria delete removes matching rows (Q4)") {
    val root = tmpDir("purge")
    val path = mkTable(root)
    engine(root).run(Seq(cfg("status = 'EXPIRED'")))
    val left = spark.read.parquet(path)
    assert(left.count() == 50)
    assert(left.filter($"status" === "EXPIRED").count() == 0)
  }

  test("guard count aborts when matches exceed maxRecordCount (A1)") {
    val root = tmpDir("purge")
    val path = mkTable(root)
    val log = engine(root).run(Seq(cfg("status = 'EXPIRED'", max = 10)))
    assert(spark.read.parquet(path).count() == 100)
    assert(log.exists(_.logMessage.startsWith("ABORT")))
  }

  test("dry run computes counts but writes nothing (Q8)") {
    val root = tmpDir("purge")
    val path = mkTable(root)
    val log = engine(root, dryRun = true).run(Seq(cfg("status = 'EXPIRED'")))
    assert(spark.read.parquet(path).count() == 100)
    assert(log.exists(_.logMessage.contains("DRY RUN")))
  }

  test("TRUNCATE fast path empties while keeping schema (Q3)") {
    val root = tmpDir("purge")
    val path = mkTable(root)
    engine(root).run(Seq(cfg("TRUNCATE TABLE t", action = "SQL")))
    val left = spark.read.parquet(path)
    assert(left.count() == 0)
    assert(left.columns.toSeq == Seq("id", "status"))
  }

  test("missing table → skip with audit (Q2)") {
    val root = tmpDir("purge")
    mkTable(root)
    val log = engine(root).run(Seq(cfg("1=1", table = "ghost")))
    assert(log.exists(e =>
      e.tableName == "ghost" && e.logMessage.contains("not found")))
  }

  test("comma table list selects, 'all' takes everything (Q1)") {
    val root = tmpDir("purge")
    val p1 = mkTable(root, "t1")
    val p2 = mkTable(root, "t2")
    val configs = Seq(
      cfg("status = 'EXPIRED'", table = "t1"),
      cfg("status = 'EXPIRED'", table = "t2"))
    engine(root).run(configs, tables = "t1")
    assert(spark.read.parquet(p1).count() == 50)
    assert(spark.read.parquet(p2).count() == 100)
    engine(root).run(configs, tables = "all")
    assert(spark.read.parquet(p2).count() == 50)
  }

  /** Partitioned copy: 100 rows across status=ACTIVE/EXPIRED dirs. */
  private def mkPartitioned(root: String, name: String = "t"): String = {
    val df = (1 to 100).map(i =>
      (i.toLong, if (i % 2 == 0) "EXPIRED" else "ACTIVE"))
      .toDF("id", "status")
    ParquetSink.writePartitioned(df, s"$root/$name", Seq("status"))
    s"$root/$name"
  }

  test("criteria on a partition column drops directories, not rewrites") {
    val root = tmpDir("purge")
    val path = mkPartitioned(root)
    val survivor = java.nio.file.Paths.get(path, "status=ACTIVE")
    import scala.jdk.CollectionConverters._
    def files() = java.nio.file.Files.list(survivor).iterator().asScala
      .map(p => (p.getFileName.toString,
        java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
    val before = files()
    val log = engine(root).run(Seq(cfg("status = 'EXPIRED'")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "status=EXPIRED")))
    assert(files() == before, "surviving partition was rewritten")
    assert(log.exists(_.logMessage.contains("partition-pruned")))
    val left = spark.read.parquet(path)
    assert(left.count() == 50)
    assert(left.filter($"status" === "EXPIRED").count() == 0)
  }

  test("criteria on a non-partition column falls back to anti-rewrite") {
    val root = tmpDir("purge")
    val path = mkPartitioned(root)
    val log = engine(root).run(Seq(cfg("id <= 10")))
    assert(!log.exists(_.logMessage.contains("partition-pruned")))
    assert(spark.read.parquet(path).count() == 90)
  }

  test("mixed partition/data criteria is NOT partition-pruned") {
    val root = tmpDir("purge")
    val path = mkPartitioned(root)
    // half of EXPIRED — dropping the whole directory would over-delete
    val log = engine(root).run(
      Seq(cfg("status = 'EXPIRED' AND id <= 50")))
    assert(!log.exists(_.logMessage.contains("partition-pruned")))
    val left = spark.read.parquet(path)
    assert(left.count() == 75)
    assert(left.filter($"status" === "EXPIRED").count() == 25)
  }

  test("SQL DELETE on a partition column is partition-pruned too (Q3)") {
    val root = tmpDir("purge")
    val path = mkPartitioned(root)
    val log = engine(root).run(Seq(
      cfg("DELETE FROM t WHERE status = 'EXPIRED'", action = "SQL")))
    assert(log.exists(_.logMessage.contains("partition-pruned")))
    assert(spark.read.parquet(path).count() == 50)
  }

  test("audit sink appends Purge_Audit-shaped rows (Q9)") {
    val root = tmpDir("purge")
    mkTable(root)
    val auditPath = s"$root/audit"
    new Purge.Engine(spark, Purge.DirResolver(root),
      auditPath = Some(auditPath))
      .run(Seq(cfg("status = 'EXPIRED'")))
    val audit = spark.read.parquet(auditPath)
    assert(audit.columns.toSet ==
      Set("logTimestamp", "logMessage", "userName", "tableName"))
    assert(audit.count() >= 3) // pre-stats, guard, deleted
    assert(audit.filter(col("logMessage").startsWith("deleted")).count() == 1)
  }

  // ---- single pass: one read per config, each count paid at most once

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case o => o.children ++ o.subqueries
  }).flatMap(nodes)

  /** Records every executed action that scans a parquet table, as
    * "write" (it writes files), "aggregate" (it aggregates) or its
    * action name. */
  private class ParquetActions extends QueryExecutionListener {
    val kinds = ArrayBuffer.empty[String]

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = synchronized {
      val all = nodes(qe.executedPlan)
      if (all.exists {
            case s: FileSourceScanExec =>
              s.relation.fileFormat.isInstanceOf[ParquetFileFormat]
            case _ => false
          })
        kinds += (
          if (all.exists(_.isInstanceOf[DataWritingCommandExec])) "write"
          else if (all.exists(_.isInstanceOf[BaseAggregateExec])) "aggregate"
          else funcName)
    }

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private def parquetActions[T](f: => T): (T, Seq[String]) = {
    val listener = new ParquetActions
    spark.listenerManager.register(listener)
    try {
      val out = f
      drainListeners()
      (out, listener.synchronized(listener.kinds.toSeq))
    } finally spark.listenerManager.unregister(listener)
  }

  /** (relative path, size, mtime) of every file under `dir`. */
  private def inventory(dir: String): Set[(String, Long, Long)] = {
    val base = Paths.get(dir)
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => (base.relativize(p).toString, Files.size(p),
        Files.getLastModifiedTime(p).toMillis)).toSet
  }

  private val AllRows = Long.MaxValue

  test("a CRITERIA rewrite runs one action, the staging write") {
    val root = tmpDir("purge")
    val path = mkTable(root)
    val (log, kinds) =
      parquetActions(engine(root).run(Seq(cfg("status = 'EXPIRED'"))))
    assert(kinds == Seq("write"))
    assert(log.map(_.logMessage) == Seq(
      "pre-purge rows=100",
      s"guard count: 50 rows match 'status = 'EXPIRED'' (max $AllRows)",
      "deleted 50 rows"))
    assert(spark.read.parquet(path).count() == 50)
    assert(!Files.exists(Paths.get(path + ".staging")))
  }

  test("SQL DELETE ... WHERE rewrites in one write; TRUNCATE counts once") {
    val root = tmpDir("purge")
    val path = mkTable(root)
    val (log, kinds) = parquetActions(engine(root).run(Seq(
      cfg("DELETE FROM t WHERE id <= 30", action = "SQL"))))
    assert(kinds == Seq("write"))
    assert(log.map(_.logMessage) == Seq("pre-purge rows=100",
      "SQL DELETE: removed 30 rows matching 'id <= 30'"))
    assert(spark.read.parquet(path).count() == 70)
    val (tlog, tkinds) = parquetActions(engine(root).run(Seq(
      cfg("TRUNCATE TABLE t", action = "SQL"))))
    assert(tkinds == Seq())
    assert(tlog.map(_.logMessage) == Seq("pre-purge rows=70",
      "TRUNCATE fast path: table emptied"))
    assert(spark.read.parquet(path).count() == 0)
  }

  test("a dry run runs one aggregate; a partition-aligned delete runs none") {
    val root = tmpDir("purge")
    val path = mkTable(root)
    val (log, kinds) = parquetActions(
      engine(root, dryRun = true).run(Seq(cfg("status = 'EXPIRED'"))))
    assert(kinds == Seq("aggregate"))
    assert(log.map(_.logMessage) == Seq(
      "pre-purge rows=100",
      s"guard count: 50 rows match 'status = 'EXPIRED'' (max $AllRows)",
      "DRY RUN: would delete 50 rows"))
    assert(spark.read.parquet(path).count() == 100)

    val proot = tmpDir("purge")
    val ppath = mkPartitioned(proot)
    val (plog, pkinds) =
      parquetActions(engine(proot).run(Seq(cfg("status = 'EXPIRED'"))))
    assert(pkinds == Seq())
    assert(plog.map(_.logMessage) == Seq(
      "pre-purge rows=100",
      s"guard count: 50 rows match 'status = 'EXPIRED'' (max $AllRows)",
      "partition-pruned delete: dropped 1 of 2 partitions (50 rows); " +
        "surviving partitions not rewritten"))
    assert(!Files.exists(Paths.get(ppath, "status=EXPIRED")))
    assert(spark.read.parquet(ppath).count() == 50)
  }

  test("an aborted guard leaves the table's files untouched and no staging") {
    for (partitioned <- Seq(false, true)) {
      val root = tmpDir("purge")
      val path = if (partitioned) mkPartitioned(root) else mkTable(root)
      val before = inventory(path)
      val log = engine(root).run(Seq(cfg("status = 'EXPIRED'", max = 10)))
      assert(log.map(_.logMessage) == Seq(
        "pre-purge rows=100",
        "guard count: 50 rows match 'status = 'EXPIRED'' (max 10)",
        "ABORT: 50 exceeds maxRecordCount 10; no rows deleted"),
        s"partitioned=$partitioned")
      assert(inventory(path) == before, s"partitioned=$partitioned")
      assert(new java.io.File(root).list().toSeq == Seq("t"),
        s"partitioned=$partitioned")
    }
  }

  test("a failed staging write leaves the table as it was and no staging") {
    val root = tmpDir("purge")
    val path = mkTable(root)
    val before = inventory(path)
    intercept[Exception] {
      engine(root).run(Seq(cfg(
        "CASE WHEN id = 77 THEN raise_error('boom') " +
          "ELSE status = 'EXPIRED' END")))
    }
    assert(inventory(path) == before)
    assert(new java.io.File(root).list().toSeq == Seq("t"))
  }

  test("rows whose criteria is NULL survive; the audited count is the rows removed") {
    for ((action, stmt, line) <- Seq(
        ("CRITERIA", "status = 'EXPIRED'", "deleted 40 rows"),
        ("SQL", "DELETE FROM t WHERE status = 'EXPIRED'",
          "SQL DELETE: removed 40 rows matching 'status = 'EXPIRED''"))) {
      val root = tmpDir("purge")
      val path = s"$root/t"
      // 50 ACTIVE, 40 EXPIRED, 10 NULL
      ParquetSink.write((1 to 100).map(i => (i.toLong,
        if (i % 10 == 0) null else if (i % 2 == 0) "EXPIRED" else "ACTIVE"))
        .toDF("id", "status"), path)
      val log = engine(root).run(Seq(cfg(stmt, action = action)))
      val left = spark.read.parquet(path)
      assert(left.count() == 60, action)
      assert(left.filter($"status".isNull).count() == 10, action)
      assert(left.filter($"status" === "EXPIRED").count() == 0, action)
      assert(log.map(_.logMessage).contains(line), action)
    }
  }

  test("a second run on one engine appends only its own audit events") {
    val root = tmpDir("purge")
    mkTable(root, "t1")
    mkTable(root, "t2")
    val auditPath = s"$root/audit"
    val e = new Purge.Engine(spark, Purge.DirResolver(root),
      auditPath = Some(auditPath))
    e.run(Seq(cfg("status = 'EXPIRED'", table = "t1")))
    e.run(Seq(cfg("status = 'EXPIRED'", table = "t2")))
    val stored = spark.read.parquet(auditPath).as[Purge.AuditEvent]
      .collect().toSeq
    assert(e.auditLog.size == 6)
    assert(stored.map(_.logMessage).sorted ==
      e.auditLog.map(_.logMessage).sorted)
  }

  test("DirResolver resolves file: and s3a: roots through the Hadoop FileSystem API") {
    val root = tmpDir("purge")
    val path = mkTable(root)
    val fileRoot = s"file://$root"
    assert(Purge.DirResolver(fileRoot).pathOf("t").isDefined)
    assert(Purge.DirResolver(fileRoot).pathOf("ghost").isEmpty)
    val log = new Purge.Engine(spark, Purge.DirResolver(fileRoot))
      .run(Seq(cfg("id <= 10")))
    assert(!log.exists(_.logMessage.contains("not found")))
    assert(log.map(_.logMessage).contains("deleted 10 rows"))
    assert(spark.read.parquet(path).count() == 90)

    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[MockS3AFileSystem].getName)
    try {
      val s3Root = s"s3a://purge-bucket$root"
      val s3log = new Purge.Engine(spark, Purge.DirResolver(s3Root))
        .run(Seq(cfg("id <= 20")))
      assert(s3log.map(_.logMessage).contains("deleted 10 rows"))
      assert(spark.read.parquet(s"$s3Root/t").count() == 80)
    } finally hc.unset("fs.s3a.impl")
  }

  // ---- footer planning: the schema and every predicate-free count
  //      come from Parquet footers, not Spark jobs

  test("jobs per config: none for a partition-aligned delete, one per write, two for a dry-run aggregate") {
    val proot = tmpDir("purge")
    mkPartitioned(proot)
    val (plog, pjobs) =
      jobsRun(engine(proot).run(Seq(cfg("status = 'EXPIRED'"))))
    assert(pjobs == 0)
    assert(plog.last.logMessage.startsWith("partition-pruned delete: dropped 1 of 2"))

    val root = tmpDir("purge")
    mkTable(root)
    val (_, djobs) =
      jobsRun(engine(root, dryRun = true).run(Seq(cfg("status = 'EXPIRED'"))))
    assert(djobs == 2) // one aggregate under AQE
    val (_, pdjobs) =
      jobsRun(engine(proot, dryRun = true).run(Seq(cfg("status = 'ACTIVE'"))))
    assert(pdjobs == 0)
    for (c <- Seq(cfg("status = 'EXPIRED'"),
        cfg("SELECT count(*) FROM t", action = "NOOP"),
        cfg("TRUNCATE TABLE t", action = "SQL"))) {
      val (_, jobs) = jobsRun(engine(root).run(Seq(c)))
      assert(jobs == (if (c.action == "NOOP") 0 else 1), c.sqlStatement)
    }
    assert(spark.read.parquet(s"$root/t").count() == 0)
  }

  test("schemaOf equals Spark's inferred schema") {
    val root = tmpDir("purge")
    def same(path: String): Unit =
      assert(ParquetSink.schemaOf(spark, path) == spark.read.parquet(path).schema,
        path)
    same(mkTable(root, "plain"))

    val keyed = s"$root/keyed"
    ParquetSink.writePartitioned(Seq(
        (1L, "a", Some(1), Some("x y")), (2L, "b", Some(2), Some("50%/50")),
        (3L, "c", None, Some("=")), (4L, "d", Some(12), None))
      .toDF("id", "v", "k", "s"), keyed, Seq("k", "s"))
    assert(new java.io.File(keyed).list().contains("k=__HIVE_DEFAULT_PARTITION__"))
    same(keyed)
    assert(spark.read.parquet(keyed).schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)

    val typed = s"$root/typed"
    spark.range(5).selectExpr(
      "CAST(id AS DECIMAL(12, 3)) AS amount",
      "date_add(DATE'2024-02-27', CAST(id AS INT)) AS day",
      "timestamp_seconds(1700000000 + id) AS ts",
      "array(id, id + 1) AS xs",
      "named_struct('a', id, 'b', CAST(id AS STRING)) AS st")
      .write.parquet(typed)
    same(typed)

    val odd = tmpDir("purge") + "/with space%25x"
    same(mkPartitioned(odd))
    val log = engine(odd).run(Seq(cfg("status = 'EXPIRED'")))
    assert(log.map(_.logMessage).contains("partition-pruned delete: " +
      "dropped 1 of 2 partitions (50 rows); surviving partitions not rewritten"))
    assert(spark.read.parquet(s"$odd/t").count() == 50)

    val truncated = mkTable(root, "t")
    engine(root).run(Seq(cfg("TRUNCATE TABLE t", action = "SQL")))
    same(truncated)
  }

  test("a directory with no data file fails as spark.read.parquet does") {
    val root = tmpDir("purge")
    val path = Paths.get(root, "t")
    Files.createDirectories(path)
    Files.write(path.resolve("_SUCCESS"), Array.emptyByteArray)
    val want = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(path.toString))
    val got = intercept[org.apache.spark.sql.AnalysisException](
      engine(root).run(Seq(cfg("id <= 10"))))
    assert(got.getCondition == want.getCondition)
  }

  test("footer counts equal a recount: several row groups, several files per partition") {
    val root = tmpDir("purge")
    val path = s"$root/t"
    spark.range(0, 20000, 1, 3)
      .selectExpr("id", "CAST(id % 4 AS INT) AS k",
        "sha2(CAST(id AS STRING), 256) AS pad")
      .write.option("parquet.block.size", 16 * 1024).partitionBy("k")
      .parquet(path)
    val df = spark.read.parquet(path)
    val total = df.count()
    val files = df.inputFiles.toSeq
    val conf = spark.sessionState.newHadoopConf()
    val groups = files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(new java.net.URI(f)), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.size finally r.close()
    }
    assert(groups.max > 1, "no file has several row groups")
    assert(files.groupBy(f => new java.net.URI(f).resolve(".")).values
      .exists(_.size > 1), "no partition has several files")
    assert(ParquetSink.rowsOf(spark, files) == total)
    assert(ParquetSink.rowsOf(spark, Seq.empty) == 0)

    val (log, jobs) =
      jobsRun(engine(root, dryRun = true).run(Seq(cfg("k IN (1, 3)"))))
    assert(jobs == 0)
    val matched = df.filter("k IN (1, 3)").count()
    assert(log.map(_.logMessage) == Seq(
      s"pre-purge rows=$total",
      s"guard count: $matched rows match 'k IN (1, 3)' (max $AllRows)",
      s"DRY RUN: would delete $matched rows"))
    val tlog = engine(root).run(Seq(cfg("DELETE FROM t", action = "SQL")))
    assert(tlog.map(_.logMessage) == Seq(s"pre-purge rows=$total",
      s"SQL DELETE: removed all $total rows"))
    assert(spark.read.parquet(path).count() == 0)
  }
}
