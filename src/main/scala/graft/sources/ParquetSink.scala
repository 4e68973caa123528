package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.net.URI

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import graft.Settle

/** Parquet sink with the reference's physical layout (SURVEY.md §2.3
  * K1/K2: `CsvToParquetConverter.java:223-235`): Snappy compression,
  * 128 MiB row groups, overwrite mode. Task-level atomicity (the
  * reference's temp-file + rename, K2) comes from Spark's commit
  * protocol natively.
  *
  * Two write shapes:
  *   - [[write]] — the scale path: one distributed write, Spark-managed
  *     `part-*` file names. This is what a 1000-executor job uses.
  *   - [[writeSingleFile]] — the 1:1-naming parity path
  *     (`x.csv` → `x.parquet`, P9): coalesce to one task, then move the
  *     single part file to the exact target name through the Hadoop
  *     FileSystem API, so the target may be on any Hadoop filesystem
  *     (`file:`, `hdfs:`, `s3a:`). Only for reference-scale inputs; at
  *     100 TB use [[write]].
  *
  * And one driver-side footer reader for the files they write, so that
  * table metadata costs no Spark job:
  *   - [[schemaOf]] — the schema `spark.read.parquet` would infer;
  *   - [[rowsOf]] — row counts from the row-group metadata. A count
  *     costs O(files) footer reads on the driver, side by side on a
  *     bounded pool, and reads no data page.
  */
object ParquetSink {

  val RowGroupBytes: Long = 128L * 1024 * 1024

  def write(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .mode(mode)
      .option("compression", "snappy")
      .option("parquet.block.size", RowGroupBytes.toString)
      .parquet(path)

  /** Hive-layout partitioned write (`path/col=value/part-*`): the
    * read-side layout lever at scale — a filter on the partition
    * column prunes entire directories before any I/O (the plan's
    * `PartitionFilters`), and each partition can be compacted /
    * retired independently (the purge engine's criteria deletes
    * become partition drops when the criteria aligns). */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .mode(mode)
      .option("compression", "snappy")
      .option("parquet.block.size", RowGroupBytes.toString)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Write exactly one parquet FILE at `targetFile` (e.g.
    * `/out/sample1.parquet` or `s3a://bucket/out/sample1.parquet`),
    * reproducing the reference's one-in → one-out naming. These are the
    * files `ConvertPipeline.upload` copies byte for byte. The part file
    * is renamed into place with the session's Hadoop conf; an existing
    * file or empty directory at the target is replaced, a non-empty
    * directory fails the call. The staging directory is removed whether
    * or not the move succeeds. */
  def writeSingleFile(df: DataFrame, targetFile: String): Unit = {
    val target = new Path(targetFile)
    val staging = new Path(targetFile + ".staging")
    // Under a checksummed local filesystem, move on the raw one: the
    // part file's `.crc` stays in staging instead of landing next to
    // the target.
    val fs = target.getFileSystem(
        df.sparkSession.sessionState.newHadoopConf()) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    try {
      write(df.coalesce(1), staging.toString)
      val part = fs.listStatus(staging).map(_.getPath).find(p =>
          p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"no part file produced under $staging"))
      // A Hadoop rename never replaces its destination.
      fs.delete(target, false)
      if (!fs.rename(part, target))
        throw new IOException(s"cannot move $part to $targetFile")
    } finally fs.delete(staging, true)
  }

  /** The schema `spark.read.parquet(path)` infers, without the job its
    * inference runs: the footer of the first data file in path order
    * (skipping `_`/`.` names, as Spark's file index does), converted as
    * Spark's inference converts it. Partition columns (`col=value/`
    * directories) are typed by Spark's own directory inference, which
    * reads no file. A path with no data file fails as
    * `spark.read.parquet` does. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    firstDataFile(root.getFileSystem(conf), root) match {
      case None => spark.read.parquet(path).schema
      case Some(file) =>
        val data = ParquetFileFormat.readSchemaFromFooter(
          new Footer(file, footer(conf, file)),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(data).parquet(path).schema
    }
  }

  /** Rows in the parquet `files` (URI strings, as `DataFrame.inputFiles`
    * gives them): the sum of their row groups' row counts, from the
    * footers, read side by side on a bounded pool ([[Settle]]). */
  def rowsOf(spark: SparkSession, files: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    Settle.values(Settle.all(spark, files.map { f => () =>
      footer(conf, new Path(new URI(f))).getBlocks.asScala
        .map(_.getRowCount).sum
    })).sum
  }

  /** The footer only, as Spark's own inference reads it: opening a
    * `ParquetFileReader` for it took 10.7 ms against 1.5 ms per local
    * file on a 4-vCPU VM. */
  private def footer(conf: Configuration, file: Path): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromPath(file, conf), NO_FILTER)

  /** Spark's file index skips these names (`InMemoryFileIndex`). */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The first visible file under `root` by path string, the file
    * Spark's non-merging inference reads; None when there is none. */
  private def firstDataFile(fs: FileSystem, root: Path): Option[Path] = {
    def files(p: Path): Iterator[Path] =
      fs.listStatus(p).iterator.filterNot(st => hidden(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) files(st.getPath) else Iterator(st.getPath))
    try files(root).minByOption(_.toString)
    catch { case _: FileNotFoundException => None }
  }
}
