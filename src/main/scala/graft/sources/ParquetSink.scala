package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode}

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
  *     single part file to the exact target name. Only for
  *     reference-scale inputs; at 100 TB use [[write]].
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
    * `/out/sample1.parquet`), reproducing the reference's one-in →
    * one-out naming. These are the files `ConvertPipeline.upload`
    * copies byte for byte. The staging move is `java.nio`, so the
    * target must be a local path. The staging directory is removed
    * whether or not the move succeeds. */
  def writeSingleFile(df: DataFrame, targetFile: String): Unit = {
    val staging = targetFile + ".staging"
    val dir = Paths.get(staging)
    try {
      write(df.coalesce(1), staging)
      val part = Files.list(dir).filter(p =>
          p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".parquet"))
        .findFirst()
        .orElseThrow(() => new IllegalStateException(
          s"no part file produced under $staging"))
      Files.move(part, Paths.get(targetFile),
        StandardCopyOption.REPLACE_EXISTING)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
