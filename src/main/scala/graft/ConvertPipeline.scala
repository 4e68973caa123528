package graft

import java.io.{FileNotFoundException, IOException}
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.schema.SchemaLoader
import graft.sources.{CsvIngest, ParquetSink, S3Conf}

/** EP1 — the reference's end-to-end batch product (SURVEY.md §3):
  * properties config → JSON schema → discover CSVs → typed convert →
  * Snappy parquet → optional S3 upload:
  *
  *   discover (Hadoop FileSystem listing) → `spark.read.csv` → cast
  *   projection → `write.parquet(out)` [→ byte copy of every converted
  *   file to `s3a://bucket/prefix`]
  *
  * The reference's 4-thread file pool (X1) and 4-thread S3 putObject
  * pool (X2) become a bounded pool per call (at most
  * `defaultParallelism` threads): the one conversion engine behind
  * [[convert]], [[convertChecked]] and [[run]] parses every CSV once
  * and runs the per-file writes on it side by side, [[upload]] its
  * per-file copies. The temp-file + atomic rename (K2) is Spark's
  * commit protocol plus the staging move of
  * [[ParquetSink.writeSingleFile]]. Upload sends the converted files
  * byte for byte under their 1:1 names, as `S3Uploader` does: no row
  * is decoded or encoded twice.
  *
  * Property keys mirror the reference's `application.properties:1-8`
  * (`SourceFilePath`, `ParquetFilePath`, `bucketName`, `prefix`,
  * `s3.endpoint`, `s3.region`, `s3.accessKey`, `s3.secretKey`) so a
  * reference user's config drops in unchanged.
  *
  * Error-isolation divergence (documented, SURVEY §7 step 2): the
  * reference silently skips a whole file on one bad row; here bad
  * *values* become NULLs (PERMISSIVE) and the file survives, or, with
  * a `quarantineDir`, bad rows are held back there. With
  * `preserveFileNames = true` a failed write fails only its own file
  * (X1); a failure of the shared parse fails the whole call.
  */
object ConvertPipeline extends Logging {

  case class Config(
      sourceDir: String,
      parquetDir: String,
      schema: StructType,
      preserveFileNames: Boolean = true,
      s3: Option[S3Conf.S3Settings] = None,
      quarantineDir: Option[String] = None)

  /** Per-file conversion report: input rows, rows quarantined (0
    * without a `quarantineDir`), produced target. The reference's
    * per-file abort (`CsvToParquetConverter.java:204-213`) becomes
    * per-ROW isolation with a loud account of what was held back. */
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
    * reference's empty-dir contract (`Main.java:34-40`). Lists through
    * the Hadoop FileSystem API, so `s3a://` and HDFS directories work
    * like local ones (with the active session's Hadoop settings). */
  def discoverCsvs(dir: String): Seq[String] =
    listCsvs(SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .fold(new Configuration())(_.sparkContext.hadoopConfiguration), dir)

  private def listCsvs(conf: Configuration, dir: String): Seq[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val isDir = try fs.getFileStatus(root).isDirectory
      catch { case _: FileNotFoundException => false }
    if (!isDir)
      throw new FileNotFoundException(s"source dir not found: $dir")
    val csvs = fs.listStatus(root).toSeq
      .filter(st => st.isFile &&
        st.getPath.getName.toLowerCase.endsWith(".csv"))
      .map(st => new Path(root, st.getPath.getName).toString).sorted
    if (csvs.isEmpty)
      throw new FileNotFoundException(s"no CSV files in $dir")
    csvs
  }

  /** The source CSVs; creates the output dir. */
  private def discover(spark: SparkSession, cfg: Config): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val csvs = listCsvs(conf, cfg.sourceDir)
    val out = new Path(cfg.parquetDir)
    if (!out.getFileSystem(conf).mkdirs(out))
      throw new IOException(s"cannot create ${cfg.parquetDir}")
    csvs
  }

  /** The 1:1 target of `csv` (P9): x.csv → `parquetDir/x.parquet`. */
  private def targetOf(cfg: Config, csv: String): String =
    s"${cfg.parquetDir}/" +
      new Path(csv).getName.replaceAll("(?i)\\.csv$", ".parquet")

  /** The one conversion engine behind [[convert]], [[convertChecked]]
    * and [[run]]: one outcome per source, in discovery order.
    *
    * Each CSV is parsed once into a lazy local checkpoint
    * (MEMORY_AND_DISK) that stores [[CsvIngest.readChecked]]'s rows as
    * they come (raw cells on bad rows only), that one action fills
    * before anything reads it — the quarantine write, or a count
    * without a `quarantineDir` — and whose blocks are released before
    * the call returns, on failure too. With a `quarantineDir`, bad
    * rows (malformed lines, failed strict casts) go there with raw
    * cells, source file and reason, and only good rows reach the
    * outputs; without one, every row is written with
    * [[CsvIngest.readAll]]'s lenient casts.
    * With `preserveFileNames` the 1:1 writes read the checkpoint
    * filtered to their source side by side, each file's counts arrive
    * with its write through an [[Observation]], and a failed write
    * fails only its own source. The bulk path writes once and counts
    * per file with one aggregate over the checkpoint. A failed parse,
    * quarantine write or bulk write fails the whole call.
    *
    * A checkpoint, not the columnar cache: each row is read back once,
    * by its own file's write, so the copied rows are stored as they
    * are instead of being encoded and compressed column by column
    * (BASELINE.md, "Columnar cache vs row checkpoint"). The trade-off:
    * a checkpoint has no lineage, so a lost executor fails the writes
    * that need its blocks — the call fails and a re-run is
    * idempotent, as after any other failed write — and each file's
    * filter scans every stored partition, where the cache skipped
    * batches by their `_src_file` statistics. */
  private def convertEach(spark: SparkSession,
      cfg: Config): Seq[(String, Try[FileReport])] = {
    val csvs = discover(spark, cfg)
    val conf = spark.sparkContext.hadoopConfiguration
    // `_src_file` holds the scan's qualified, URL-encoded file URI.
    def srcKey(csv: String): String = {
      val p = new Path(csv)
      p.getFileSystem(conf).makeQualified(p).toUri.toString
    }
    // Rows held back from the outputs: the bad ones, when quarantined.
    val held = if (cfg.quarantineDir.isEmpty) lit(false)
      else col(CsvIngest.ReasonCol).isNotNull
    def kept(df: DataFrame) =
      df.filter(!held).select(cfg.schema.fieldNames.map(col).toIndexedSeq: _*)
    val checked = CsvIngest.readChecked(spark, csvs, cfg.schema)
      .localCheckpoint(eager = false, StorageLevel.MEMORY_AND_DISK)
    try {
      cfg.quarantineDir match {
        case Some(q) => CsvIngest.badRows(checked, cfg.schema).write
          .mode("overwrite").option("compression", "snappy").parquet(q)
        case None => checked.count()
      }
      val outcomes = if (cfg.preserveFileNames) {
        csvs.zip(Settle.all(spark, csvs.map { csv => () =>
          val target = targetOf(cfg, csv)
          val seen = Observation()
          val file = checked.filter(col(CsvIngest.SrcFileCol) === srcKey(csv))
            .observe(seen, count(lit(1)).as("rows"),
              count(when(held, true)).as("quarantined"))
          ParquetSink.writeSingleFile(kept(file), target)
          val m = seen.get
          FileReport(csv, target, m("rows").asInstanceOf[Long],
            m("quarantined").asInstanceOf[Long])
        }))
      } else {
        ParquetSink.write(kept(checked), cfg.parquetDir)
        val counts = checked
          .groupBy(col(CsvIngest.SrcFileCol))
          .agg(count(lit(1)), count(when(held, true)))
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        csvs.map { csv =>
          val (rows, q) = counts.getOrElse(srcKey(csv), (0L, 0L))
          csv -> Success(FileReport(csv, cfg.parquetDir, rows, q))
        }
      }
      outcomes.foreach {
        case (csv, Failure(e)) => logError(s"failed to convert $csv: $e")
        case (_, Success(r)) if r.quarantined > 0 => logWarning(
          s"${r.source}: quarantined ${r.quarantined} of ${r.rows} " +
            s"row(s) → ${cfg.quarantineDir.get}")
        case _ =>
      }
      outcomes
    } finally Checkpoint.release(checked, blocking = true)
  }

  /** Run the conversion stage. Returns the produced parquet targets
    * (`parquetDir` itself in bulk mode); a source whose write failed
    * is logged and left out. */
  def convert(spark: SparkSession, cfg: Config): Seq[String] =
    convertEach(spark, cfg).collect { case (_, Success(r)) => r.target }
      .distinct

  /** Conversion with row-level quarantine: [[convertEach]] with
    * `cfg.quarantineDir` required. Returns one report per source; when
    * any write failed, the first failure is rethrown (the others
    * suppressed on it) once every write settled. */
  def convertChecked(spark: SparkSession, cfg: Config): Seq[FileReport] = {
    require(cfg.quarantineDir.isDefined, "quarantineDir not set")
    Settle.values(convertEach(spark, cfg).map(_._2))
  }

  /** Upload stage (K3), the reference's `S3Uploader`: copy every
    * converted file (each non-hidden regular file directly under
    * `parquetDir`) byte for byte to the configured s3a:// location
    * under its own name (P9), side by side on a bounded pool, through
    * the Hadoop FileSystem API. The target is overwritten; `_SUCCESS`
    * is written last. When any copy fails, every copy settles first,
    * then one IOException names the files that failed (X2). */
  def upload(spark: SparkSession, cfg: Config): Option[String] =
    cfg.s3.map { s3 =>
      S3Conf.configure(spark, s3)
      val conf = spark.sparkContext.hadoopConfiguration
      val src = new Path(cfg.parquetDir)
      val srcFs = src.getFileSystem(conf)
      val dst = new Path(s3.uri)
      val dstFs = dst.getFileSystem(conf)
      val files = srcFs.listStatus(src).toSeq.filter(_.isFile)
        .map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      dstFs.delete(dst, true)
      dstFs.mkdirs(dst)
      val outcomes = Settle.all(spark, files.map { f => () =>
        if (!FileUtil.copy(srcFs, f, dstFs, new Path(dst, f.getName),
            false, true, conf))
          throw new IOException(s"copy of $f returned false")
      })
      val failed = files.zip(outcomes).collect { case (f, Failure(e)) =>
        (f.getName, e)
      }
      if (failed.nonEmpty) {
        val e = new IOException(s"upload to ${s3.uri} failed for " +
          s"${failed.size} of ${files.size} file(s): " +
          failed.map(_._1).mkString(", "), failed.head._2)
        failed.tail.foreach(f => e.addSuppressed(f._2))
        throw e
      }
      dstFs.create(new Path(dst, "_SUCCESS"), true).close()
      s3.uri
    }

  /** Full EP1: convert then upload. Returns the sources whose write
    * failed; the others are converted and uploaded. A failure of the
    * shared parse (or of the bulk write) throws instead, so [[main]]
    * exits non-zero either way. */
  def run(spark: SparkSession, cfg: Config): Seq[String] = {
    val outcomes = convertEach(spark, cfg)
    logInfo(s"converted ${outcomes.count(_._2.isSuccess)} of " +
      s"${outcomes.size} source(s)")
    upload(spark, cfg).foreach(u => logInfo(s"uploaded to $u"))
    outcomes.collect { case (csv, Failure(_)) => csv }
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
