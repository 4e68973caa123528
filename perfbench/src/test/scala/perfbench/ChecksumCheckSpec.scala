package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.SchemaLoader
import graft.sources.{CsvIngest, ParquetSink}

class ChecksumCheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Dirs.deleteTree(dir)
  }

  private lazy val dir = Files.createTempDirectory("checksums")
  private lazy val schema = SchemaLoader.fromJson(RefCsv.schemaJson)
  private lazy val written =
    RefCsv.write(dir.resolve("in.csv"), 11, idBase = 0, rows = 500,
      badRate = 0.0)

  private def observed(path: String): Checksums =
    Checksums.observe(spark.read.parquet(path), lit("k"))("k")

  test("a faithful conversion matches the generator's checksums") {
    val out = dir.resolve("ok.parquet").toString
    ParquetSink.writeSingleFile(
      CsvIngest.read(spark, written.path.toString, schema), out)
    assert(written.good.diff(observed(out)).isEmpty)
  }

  test("the check fails on a deliberately corrupted output") {
    val good = CsvIngest.read(spark, written.path.toString, schema)
    val corruptions = Seq(
      "changed amount" ->
        good.withColumn("amount", when(col("id") === 7,
          col("amount") + lit(0.01)).otherwise(col("amount"))),
      "lost row" -> good.filter(col("id") =!= 3),
      "blanked cell" -> good.withColumn("city",
        when(col("id") === 5, lit(null)).otherwise(col("city"))),
      "shifted timestamp" -> good.withColumn("event_timestamp",
        when(col("id") === 0, col("event_timestamp") - expr("INTERVAL 1 SECOND"))
          .otherwise(col("event_timestamp"))))
    for ((what, df) <- corruptions) {
      val out = dir.resolve(what.replace(' ', '_')).toString
      ParquetSink.write(df, out)
      assert(written.good.diff(observed(out)).nonEmpty, what)
    }
  }
}
