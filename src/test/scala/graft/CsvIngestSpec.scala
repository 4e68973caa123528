package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.schema.SchemaLoader
import graft.sources.CsvIngest

/** Golden-value round-trip semantics, mirroring the reference's
  * `CsvToParquetConverterTest.java:36-90` oracle: typed values survive
  * CSV→typed→Parquet→read-back exactly, including nano→micro
  * truncation, HALF_UP decimal rescale, and the empty→NULL /
  * short-row→NULL / bad-value→NULL contracts (SURVEY §1).
  */
class CsvIngestSpec extends SparkSpec {

  private val schemaJson =
    """{"fields": [
      |  {"name": "id", "type": "INT32", "repetition": "REQUIRED"},
      |  {"name": "name", "type": "BINARY", "logicalType": "STRING"},
      |  {"name": "age", "type": "INT32"},
      |  {"name": "amount", "type": "BINARY", "logicalType": "DECIMAL",
      |   "precision": 10, "scale": 2},
      |  {"name": "birth_date", "type": "INT32", "logicalType": "DATE"},
      |  {"name": "event_timestamp", "type": "INT64",
      |   "logicalType": "TIMESTAMP_MICROS"},
      |  {"name": "total", "type": "BINARY", "logicalType": "DECIMAL",
      |   "precision": 38, "scale": 2},
      |  {"name": "large_count", "type": "INT64"}
      |]}""".stripMargin

  private val schema = SchemaLoader.fromJson(schemaJson)

  private def writeCsv(rows: String*): String = {
    val dir = tmpDir("csv_ingest")
    val header =
      "id,name,age,amount,birth_date,event_timestamp,total,large_count"
    Files.write(Paths.get(dir, "in.csv"),
      (header +: rows).mkString("\n").getBytes("UTF-8"))
    s"$dir/in.csv"
  }

  private def readRows(csv: String, strict: Boolean = false): Array[Row] =
    CsvIngest.read(spark, csv, schema, strict = strict)
      .orderBy("id").collect()

  test("typed round-trip golden values (CsvToParquetConverterTest.java:63-90)") {
    val csv = writeCsv(
      "1,Alice,25,7890.12,1980-05-20,2023-01-01 12:00:00.123456789,543210.98,3000000")
    // write → parquet → read back, like the reference's oracle
    val out = tmpDir("csv_ingest_out")
    graft.sources.ParquetSink.write(CsvIngest.read(spark, csv, schema), out)
    val r = spark.read.parquet(out).collect().head
    assert(r.getAs[Int]("id") == 1)
    assert(r.getAs[String]("name") == "Alice")
    assert(r.getAs[Int]("age") == 25)
    assert(r.getAs[java.math.BigDecimal]("amount") ==
      new java.math.BigDecimal("7890.12"))
    assert(r.getAs[java.sql.Date]("birth_date").toString == "1980-05-20")
    // 9-digit fraction truncated to micros (getNano()/1_000 semantics)
    assert(r.getAs[LocalDateTime]("event_timestamp") ==
      LocalDateTime.parse("2023-01-01T12:00:00.123456"))
    assert(r.getAs[java.math.BigDecimal]("total") ==
      new java.math.BigDecimal("543210.98"))
    assert(r.getAs[Long]("large_count") == 3000000L)
  }

  test("timestamp multi-format chain: 9/6/3-digit fractions + fraction-less") {
    val csv = writeCsv(
      "1,a,1,1.00,2020-01-01,2023-01-01 12:00:00.123456789,1.00,1",
      "2,b,2,2.00,2020-01-02,2023-01-01 12:00:00.123456,2.00,2",
      "3,c,3,3.00,2020-01-03,2023-01-01 12:00:00.123,3.00,3",
      "4,d,4,4.00,2020-01-04,2023-01-01 12:00:00,4.00,4")
    val ts = readRows(csv).map(_.getAs[LocalDateTime]("event_timestamp"))
    assert(ts(0) == LocalDateTime.parse("2023-01-01T12:00:00.123456"))
    assert(ts(1) == LocalDateTime.parse("2023-01-01T12:00:00.123456"))
    assert(ts(2) == LocalDateTime.parse("2023-01-01T12:00:00.123"))
    assert(ts(3) == LocalDateTime.parse("2023-01-01T12:00:00"))
  }

  test("empty and whitespace-only cells → NULL (P7)") {
    val csv = writeCsv(
      "1, ,25,,1980-05-20,2023-01-01 12:00:00,,3000000")
    val r = readRows(csv).head
    assert(r.isNullAt(r.fieldIndex("name")))
    assert(r.isNullAt(r.fieldIndex("amount")))
    assert(r.isNullAt(r.fieldIndex("total")))
  }

  test("short row → trailing NULLs (CsvToParquetConverter.java:159)") {
    val csv = writeCsv("1,Alice,25")
    val r = readRows(csv).head
    assert(r.getAs[Int]("id") == 1)
    assert(r.getAs[Int]("age") == 25)
    assert(r.isNullAt(r.fieldIndex("amount")))
    assert(r.isNullAt(r.fieldIndex("event_timestamp")))
    assert(r.isNullAt(r.fieldIndex("large_count")))
  }

  test("decimal rescale HALF_UP to declared scale (P6)") {
    val csv = writeCsv(
      "1,a,1,7890.125,2020-01-01,2023-01-01 12:00:00,0.994,1",
      "2,b,2,7890.124,2020-01-02,2023-01-01 12:00:00,0.995,2")
    val rows = readRows(csv)
    assert(rows(0).getAs[java.math.BigDecimal]("amount") ==
      new java.math.BigDecimal("7890.13")) // .125 → up
    assert(rows(0).getAs[java.math.BigDecimal]("total") ==
      new java.math.BigDecimal("0.99"))
    assert(rows(1).getAs[java.math.BigDecimal]("amount") ==
      new java.math.BigDecimal("7890.12"))
    assert(rows(1).getAs[java.math.BigDecimal]("total") ==
      new java.math.BigDecimal("1.00")) // .995 → up
  }

  test("bad decimal → NULL, lenient in both modes (P6)") {
    val csv = writeCsv(
      "1,a,1,not_a_number,2020-01-01,2023-01-01 12:00:00,1.00,1")
    assert(readRows(csv).head.isNullAt(3))
    assert(readRows(csv, strict = true).head.isNullAt(3))
  }

  test("bad int/date/timestamp → NULL lenient, error strict (§1 nulls)") {
    val csv = writeCsv(
      "1,a,NaN,1.00,bogus-date,13:00 pm,1.00,xyz")
    val r = readRows(csv).head
    assert(r.isNullAt(r.fieldIndex("age")))
    assert(r.isNullAt(r.fieldIndex("birth_date")))
    assert(r.isNullAt(r.fieldIndex("event_timestamp")))
    assert(r.isNullAt(r.fieldIndex("large_count")))
    // ANSI cast failure surfaces as a Spark*Exception subtype (e.g.
    // SparkNumberFormatException locally, SparkException via task retry)
    intercept[Exception] {
      readRows(csv, strict = true)
    }
  }

  test("readChecked quarantines failed strict casts, not silently NULLing") {
    val csv = writeCsv(
      "1,Alice,25,1.00,1980-05-20,2023-01-01 12:00:00,1.00,1",
      "2,Bob,NaN,2.00,1981-06-21,2023-01-01 12:00:00,2.00,2",
      // bad decimal stays LENIENT (P6: reference warns + nulls) — good
      "3,Cara,30,not_a_number,1982-07-22,2023-01-01 12:00:00,3.00,3",
      // two strict failures on one row → both named in the reason
      "4,Dee,31,4.00,bogus-date,25:99 pm,4.00,4")
    val checked = CsvIngest.readChecked(spark, Seq(csv), schema)
    val good = CsvIngest.goodRows(checked, schema).orderBy("id").collect()
    assert(good.map(_.getAs[Int]("id")).toSeq == Seq(1, 3))
    assert(good(1).isNullAt(good(1).fieldIndex("amount"))) // lenient NULL
    val bad = CsvIngest.badRows(checked, schema)
      .orderBy(CsvIngest.rawName("id")).collect()
    assert(bad.length == 2)
    assert(bad(0).getAs[String](CsvIngest.ReasonCol) == "bad_cast:age")
    assert(bad(0).getAs[String](CsvIngest.rawName("age")) == "NaN")
    assert(bad(1).getAs[String](CsvIngest.ReasonCol) ==
      "bad_cast:birth_date,event_timestamp")
    assert(bad(0).getAs[String](CsvIngest.SrcFileCol).contains("in.csv"))
  }

  test("readChecked flags malformed lines; short rows stay good (P7)") {
    val csv = writeCsv(
      "1,Alice,25,1.00,1980-05-20,2023-01-01 12:00:00,1.00,1",
      // broken RFC-4180 quoting — the quote swallows the delimiters
      "2,\"unclosed,30,2.00,1981-06-21,2023-01-01 12:00:00,2.00,2",
      // extra trailing token
      "3,Cara,35,3.00,1982-07-22,2023-01-01 12:00:00,3.00,3,EXTRA",
      // short row: reference semantics read missing cells as NULL
      "4,Dee,40")
    val checked = CsvIngest.readChecked(spark, Seq(csv), schema)
    val good = CsvIngest.goodRows(checked, schema).orderBy("id").collect()
    assert(good.map(_.getAs[Int]("id")).toSeq == Seq(1, 4))
    assert(good(1).isNullAt(good(1).fieldIndex("amount"))) // short → NULL
    val bad = CsvIngest.badRows(checked, schema)
      .orderBy(CsvIngest.rawName("id")).collect()
    assert(bad.length == 2)
    assert(bad.forall(
      _.getAs[String](CsvIngest.ReasonCol) == "malformed_line"))
  }

  test("readChecked's bad rows are the same under any projection, pruning on") {
    assert(spark.conf.get("spark.sql.csv.parser.columnPruning.enabled") == "true")
    val csv = writeCsv(
      "1,Alice,25,1.00,1980-05-20,2023-01-01 12:00:00,1.00,1",
      "2,Bob,NaN,2.00,1981-06-21,2023-01-01 12:00:00,2.00,2",
      "3,\"unclosed,30,3.00,1982-07-22,2023-01-01 12:00:00,3.00,3",
      "4,Dee,40,4.00,1983-08-23,2023-01-01 12:00:00,4.00,4,EXTRA",
      "5,Eve")
    import org.apache.spark.sql.functions.{col, count}
    val checked = CsvIngest.readChecked(spark, Seq(csv), schema)
    val bad = checked.filter(col(CsvIngest.ReasonCol).isNotNull)
    val grouped = checked.groupBy(col(CsvIngest.SrcFileCol))
      .agg(count(col(CsvIngest.ReasonCol))).collect().head.getLong(1)
    assert((bad.count(), bad.collect().length.toLong, grouped) == (3L, 3L, 3L))
  }

  test("readChecked casts each strict cell once per row, as readAll does") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.{Cast, ToTimestamp}
    val csv = writeCsv(
      "1,Alice,25,1.00,1980-05-20,2023-01-01 12:00:00,1.00,1")
    // The string-parsing sites of raw cell `cell` in the optimized plan.
    def parses(df: DataFrame, cell: String): Int =
      df.queryExecution.optimizedPlan.flatMap(_.expressions)
        .flatMap(_.collect {
          case e @ (_: Cast | _: ToTimestamp)
              if e.children.head.dataType == StringType &&
                e.references.exists(_.name == cell) => e
        }).size
    val checked = CsvIngest.readChecked(spark, Seq(csv), schema)
    val lenient = CsvIngest.readAll(spark, Seq(csv), schema)
    for ((f, i) <- schema.fields.zipWithIndex) f.dataType match {
      case IntegerType | LongType | DateType | TimestampNTZType =>
        val once = parses(lenient, s"_c$i")
        assert(once > 0, f.name)
        assert(parses(checked, s"_c$i") == once, f.name)
      case _ =>
    }
  }

  test("positional binding ignores header names (S3)") {
    val dir = tmpDir("csv_pos")
    Files.write(Paths.get(dir, "in.csv"),
      ("x1,x2,x3,x4,x5,x6,x7,x8\n" +
        "7,Zed,40,1.50,1999-09-09,2023-06-01 00:00:00,2.50,42")
        .getBytes("UTF-8"))
    val r = CsvIngest.read(spark, s"$dir/in.csv", schema).collect().head
    assert(r.getAs[Int]("id") == 7)
    assert(r.getAs[String]("name") == "Zed")
    assert(r.getAs[Long]("large_count") == 42L)
  }
}
