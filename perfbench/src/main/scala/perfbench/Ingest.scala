package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ConvertPipeline
import graft.sources.CsvIngest
import graft.sources.S3Conf.S3Settings

/** `ingest_bulk_checked`: each operation converts a few CSV files
  * through `ConvertPipeline.convertChecked` (quarantine, 1:1 names)
  * and uploads the result. The inputs are generated once; every
  * operation re-converts them over the previous output. */
final class IngestBulkChecked(spark: SparkSession, work: File, seed: Long,
    schema: StructType, files: Int, rows: Int) extends Workload {

  private val BadRate = 0.002
  private val base = Dirs.dir(work, "bulk")
  private var inputs: Seq[RefCsv.Written] = Nil
  private val reports =
    mutable.Map.empty[Int, Seq[ConvertPipeline.FileReport]]
  private val cfg = ConvertPipeline.Config(
    sourceDir = new File(base, "src").getPath,
    parquetDir = new File(base, "out").getPath,
    schema = schema,
    preserveFileNames = true,
    s3 = Some(S3Settings(LocalS3AFileSystem.Bucket,
      LocalS3AFileSystem.prefixFor(new File(base, "s3")))),
    quarantineDir = Some(new File(base, "quarantine").getPath))

  def opName(i: Int): String = s"batch$i"

  /** At least three operations, so that one slow one does not decide
    * the run. */
  override def minPasses: Int = 3

  def setup(): Unit = {
    val src = Dirs.dir(base, "src")
    inputs = (0 until files).map { j =>
      RefCsv.write(new File(src, f"bulk$j%02d.csv").toPath, seed,
        idBase = j * rows, rows = rows, badRate = BadRate)
    }
    // Two warm-up operations: after one, the next still ran slower
    // while the JIT compiled the scan and cast code.
    for (_ <- 1 to 2) execute(-1, new Tracer(spark))
  }

  /** Traced, discovery gets a span of its own; the stages are the ones
    * the product runs. */
  def execute(i: Int, t: Tracer): Unit = {
    if (t.enabled)
      t.span("pipeline", "discoverCsvs")(
        ConvertPipeline.discoverCsvs(cfg.sourceDir))
    reports(i) = t.span("pipeline", "convertChecked")(
      ConvertPipeline.convertChecked(spark, cfg))
    t.span("pipeline", "upload")(ConvertPipeline.upload(spark, cfg))
  }

  /** The per-file report each operation returns must account for every
    * row: as many rows as generated, as many quarantined as planted. */
  override def after(i: Int): Seq[String] = {
    val got = reports(i).map(r => new File(r.source).getName -> r).toMap
    inputs.flatMap { w =>
      val name = w.path.getFileName.toString
      got.get(name) match {
        case None => Seq(s"$name: no report")
        case Some(r) if r.rows != w.rows || r.quarantined != w.bad =>
          Seq(s"$name: report rows=${r.rows} quarantined=${r.quarantined}, " +
            s"expected ${w.rows} and ${w.bad}")
        case _ => Nil
      }
    }
  }

  /** The output left by the last operation: every file's checksums,
    * the quarantine count per source file, and the uploaded copy. */
  override def finalCheck(ops: Int): Map[Int, Seq[String]] = {
    def compare(what: String, expected: Checksums,
        observed: Option[Checksums]): Seq[String] = observed match {
      case None => Seq(s"$what: no output")
      case Some(o) => expected.diff(o).take(5).map(d => s"$what: $d")
    }
    val local = Checksums.observe(
      spark.read.schema(schema).parquet(s"${cfg.parquetDir}/*.parquet"),
      regexp_extract(input_file_name(), "[^/]+$", 0))
    val perFile = inputs.flatMap { w =>
      val name = w.path.getFileName.toString.replaceAll("\\.csv$", ".parquet")
      compare(name, w.good, local.get(name))
    }
    val quarantined = spark.read.parquet(cfg.quarantineDir.get)
      .groupBy(regexp_extract(col(CsvIngest.SrcFileCol), "[^/]+$", 0))
      .count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val q = inputs.flatMap { w =>
      val name = w.path.getFileName.toString
      val n = quarantined.getOrElse(name, 0L)
      if (n == w.bad) Nil
      else Seq(s"$name: $n rows quarantined, ${w.bad} planted")
    }
    val uploaded = Checksums.observe(
      spark.read.schema(schema).parquet(new File(base, "s3").getPath),
      lit("all")).get("all")
    val upload = compare("upload", inputs.map(_.good).reduce(_ merge _),
      uploaded)
    Map((ops - 1) -> (perFile ++ q ++ upload))
  }

  /** Per-layer metrics of the ConvertPipeline spans, per operation. */
  def layers(trace: Trace, ops: Seq[Span]): Map[String, Double] = {
    val n = ops.size.toDouble
    val csvBytes = inputs.map(_.bytes).sum * n
    val discover = trace.spansOf("pipeline", "discoverCsvs")
    val convert = trace.spansOf("pipeline", "convertChecked")
    val upload = trace.spansOf("pipeline", "upload")
    val cj = trace.jobsUnder(convert)
    val c = trace.sums(cj)
    val u = trace.sums(trace.jobsUnder(upload))
    def secs(ss: Seq[Span]) = ss.map(_.duration).sum / 1e9 / n
    Map(
      "pipeline.discover_ms" -> discover.map(_.duration).sum / 1e6 / n,
      "pipeline.convert_s" -> secs(convert),
      "pipeline.upload_s" -> secs(upload),
      "pipeline.jobs_per_file" -> cj.size / (files * n),
      "pipeline.driver_gap_s" -> ops.map(trace.driverGap).sum / 1e9 / n,
      "csv.bytes_read" -> c.inBytes / n,
      "csv.read_amplification" -> c.inBytes / csvBytes,
      "csv.scan_task_s" -> c.scanRunMs / 1e3 / n,
      "sink.bytes_written" -> c.outBytes / n,
      "sink.files_written" -> c.writeTasks / n,
      "sink.write_task_s" -> c.writeRunMs / 1e3 / n,
      "sink.tasks_per_write" ->
        c.writeTasks / math.max(1, cj.count(_.writes)).toDouble,
      "sink.bytes_per_csv_byte" -> c.outBytes / csvBytes,
      "upload.bytes_written" -> u.outBytes / n,
      "upload.reencode_ratio" ->
        u.inRecords / math.max(1L, u.outRecords).toDouble)
  }
}
