package graft

import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.schema.SchemaLoader
import graft.sources.{CsvIngest, ParquetSink, S3Conf}

/** EP1 — the reference's end-to-end batch product (SURVEY.md §3):
  * properties config → JSON schema → discover CSVs → typed convert →
  * Snappy parquet → optional S3 upload. Re-expressed as one
  * declarative Spark pipeline:
  *
  *   `spark.read.csv(dir)` → cast projection → `write.parquet(out)`
  *   [→ `write.parquet("s3a://bucket/prefix")`]
  *
  * The reference's 4-thread file pool (X1), temp-file + atomic rename
  * (K2) and 4-thread S3 putObject pool (X2) are all replaced by Spark
  * task parallelism and the commit protocol.
  *
  * Property keys mirror the reference's `application.properties:1-8`
  * (`SourceFilePath`, `ParquetFilePath`, `bucketName`, `prefix`,
  * `s3.endpoint`, `s3.region`, `s3.accessKey`, `s3.secretKey`) so a
  * reference user's config drops in unchanged.
  *
  * Error-isolation divergence (documented, SURVEY §7 step 2): the
  * reference silently skips a whole file on one bad row; here bad
  * *values* become NULLs (PERMISSIVE) and the file survives. Strict
  * per-file isolation is available via `preserveFileNames = true`,
  * which runs one small job per input file (reference scale only).
  */
object ConvertPipeline extends Logging {

  case class Config(
      sourceDir: String,
      parquetDir: String,
      schema: StructType,
      preserveFileNames: Boolean = true,
      s3: Option[S3Conf.S3Settings] = None,
      quarantineDir: Option[String] = None)

  /** Per-file conversion report (quarantine mode): input rows, rows
    * quarantined, produced target. The reference's per-file abort
    * (`CsvToParquetConverter.java:204-213`) becomes per-ROW isolation
    * with a loud per-file account of what was held back. */
  case class FileReport(source: String, target: String,
      rows: Long, quarantined: Long)

  def loadProperties(path: String): Properties = {
    val p = new Properties()
    val in = Files.newInputStream(Paths.get(path))
    try p.load(in) finally in.close()
    p
  }

  def configFrom(props: Properties, schemaJsonPath: String): Config = {
    val s3 =
      Option(props.getProperty("bucketName")).filter(_.nonEmpty)
        .map(_ => S3Conf.fromProperties(props))
    // Reference fail-fast parity (`Main.java:30-32, 46-48`): a
    // missing path key is a configuration error, not a late NPE.
    def required(key: String): String =
      Option(props.getProperty(key)).getOrElse(
        throw new java.io.IOException(
          s"Missing $key in application.properties"))
    Config(
      sourceDir = required("SourceFilePath"),
      parquetDir = required("ParquetFilePath"),
      schema = SchemaLoader.fromJsonFile(schemaJsonPath),
      s3 = s3)
  }

  /** Discover `*.csv` under the source dir; error when none — the
    * reference's empty-dir contract (`Main.java:34-40`). */
  def discoverCsvs(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p))
      throw new java.io.FileNotFoundException(s"source dir not found: $dir")
    val csvs = Files.list(p).iterator().asScala
      .filter(_.getFileName.toString.toLowerCase.endsWith(".csv"))
      .map(_.toString).toSeq.sorted
    if (csvs.isEmpty)
      throw new java.io.FileNotFoundException(s"no CSV files in $dir")
    csvs
  }

  /** Run the conversion stage. Returns the produced parquet targets. */
  def convert(spark: SparkSession, cfg: Config): Seq[String] =
    convertReporting(spark, cfg)._1

  /** [[convert]]'s produced targets, and the sources that failed. */
  private def convertReporting(spark: SparkSession,
      cfg: Config): (Seq[String], Seq[String]) = {
    val csvs = discoverCsvs(cfg.sourceDir)
    Files.createDirectories(Paths.get(cfg.parquetDir))
    if (cfg.preserveFileNames) {
      // 1:1 naming parity (P9): x.csv → x.parquet, one small job per
      // file; a failure converts that file only (reference X1
      // isolation), others continue.
      val outcomes = csvs.map { csv =>
        val name = Paths.get(csv).getFileName.toString
          .replaceAll("(?i)\\.csv$", ".parquet")
        val target = s"${cfg.parquetDir}/$name"
        csv -> (try {
          val df = CsvIngest.read(spark, csv, cfg.schema)
          ParquetSink.writeSingleFile(df, target)
          Some(target)
        } catch {
          case e: Exception =>
            logError(s"failed to convert $csv: ${e.getMessage}")
            None
        })
      }
      (outcomes.flatMap(_._2), outcomes.collect { case (csv, None) => csv })
    } else {
      // Scale path: one distributed job over all files.
      val df = CsvIngest.readAll(spark, csvs, cfg.schema)
      ParquetSink.write(df, cfg.parquetDir)
      (Seq(cfg.parquetDir), Seq.empty)
    }
  }

  /** Conversion with row-level quarantine: bad rows (malformed lines,
    * failed strict casts) are diverted to `cfg.quarantineDir` with
    * their raw cells + source file + reason, good rows written as
    * usual. One distributed job regardless of file count; per-file
    * accounting is a second aggregate over the pruned (raw-cells-free)
    * scan. The driver-side collect is per-FILE metadata (like the
    * directory listing itself), not per-row data. */
  def convertChecked(spark: SparkSession, cfg: Config): Seq[FileReport] = {
    val qDir = cfg.quarantineDir.getOrElse(
      throw new IllegalArgumentException("quarantineDir not set"))
    val csvs = discoverCsvs(cfg.sourceDir)
    Files.createDirectories(Paths.get(cfg.parquetDir))
    val checked = CsvIngest.readChecked(spark, csvs, cfg.schema)
    val bad = CsvIngest.badRows(checked, cfg.schema)
    bad.write.mode("overwrite")
      .option("compression", "snappy").parquet(qDir)
    if (cfg.preserveFileNames) {
      csvs.foreach { csv =>
        val name = Paths.get(csv).getFileName.toString
          .replaceAll("(?i)\\.csv$", ".parquet")
        val good = CsvIngest.goodRows(
          CsvIngest.readChecked(spark, Seq(csv), cfg.schema), cfg.schema)
        ParquetSink.writeSingleFile(good, s"${cfg.parquetDir}/$name")
      }
    } else {
      ParquetSink.write(
        CsvIngest.goodRows(checked, cfg.schema), cfg.parquetDir)
    }
    val counts = checked
      .groupBy(col(CsvIngest.SrcFileCol))
      .agg(count(lit(1)).as("rows"),
        count(col(CsvIngest.ReasonCol)).as("quarantined"))
      .collect()
      .map(r => r.getString(0).replaceFirst("^file:/+", "/") ->
        (r.getLong(1), r.getLong(2))).toMap
    csvs.map { csv =>
      val (rows, q) = counts.getOrElse(csv, (0L, 0L))
      val name = Paths.get(csv).getFileName.toString
        .replaceAll("(?i)\\.csv$", ".parquet")
      val target = if (cfg.preserveFileNames)
        s"${cfg.parquetDir}/$name" else cfg.parquetDir
      if (q > 0) logWarning(s"$csv: quarantined $q of $rows row(s) → $qDir")
      FileReport(csv, target, rows, q)
    }
  }

  /** Upload stage (K3): re-write the converted parquet to the
    * configured s3a:// location. */
  def upload(spark: SparkSession, cfg: Config): Option[String] =
    cfg.s3.map { s3 =>
      S3Conf.configure(spark, s3)
      val df = spark.read.parquet(cfg.parquetDir)
      ParquetSink.write(df, s3.uri)
      s3.uri
    }

  /** Full EP1: convert then upload. Returns the sources that failed
    * to convert; the others are converted and uploaded. */
  def run(spark: SparkSession, cfg: Config): Seq[String] = {
    val (produced, failed) = convertReporting(spark, cfg)
    logInfo(s"converted ${produced.size} target(s)")
    upload(spark, cfg).foreach(u => logInfo(s"uploaded to $u"))
    failed
  }

  def main(args: Array[String]): Unit = {
    val propsPath = args.lift(0).getOrElse("application.properties")
    val schemaPath = args.lift(1).getOrElse("schema.json")
    val spark = GraftSession.builder("graft-convert",
      master = sys.env.get("SPARK_MASTER")).getOrCreate()
    val failed =
      try run(spark, configFrom(loadProperties(propsPath), schemaPath))
      finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[convert] ${failed.size} source(s) failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
