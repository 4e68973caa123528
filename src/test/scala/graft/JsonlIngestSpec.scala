package graft

import org.apache.spark.sql.types._

import graft.sources.JsonlIngest

class JsonlIngestSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("amount", DecimalType(10, 2)),
    StructField("born", DateType),
    StructField("seen", TimestampNTZType)))

  private def write(lines: Seq[String]): String = {
    val dir = tmpDir("jsonl")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("missing and null fields read as NULL; casts match CSV contract") {
    val dir = write(Seq(
      """{"id": 1, "name": "a", "amount": 12.345, "born": "2000-01-02", "seen": "2023-01-01 12:00:00.123456"}""",
      """{"id": 2, "name": null, "amount": null}""",
      """{"id": 3}"""))
    val rows = JsonlIngest.read(spark, dir, schema)
      .orderBy("id").collect()
    assert(rows.length == 3)
    // HALF_UP rescale to the declared scale, same as the CSV path
    assert(rows(0).getDecimal(2) == new java.math.BigDecimal("12.35"))
    assert(rows(0).getDate(3).toString == "2000-01-02")
    // micros preserved through the multi-format timestamp chain
    assert(rows(0).getAs[java.time.LocalDateTime]("seen").getNano == 123456000)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2))
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2) &&
      rows(2).isNullAt(3) && rows(2).isNullAt(4))
  }

  test("lenient mode nulls a bad value; fraction-less timestamps accepted") {
    val dir = write(Seq(
      """{"id": "not_a_number", "seen": "2023-01-01 12:00:00"}"""))
    val row = JsonlIngest.read(spark, dir, schema).collect()(0)
    assert(row.isNullAt(0)) // bad long -> NULL, not an error
    assert(row.getAs[java.time.LocalDateTime]("seen").getHour == 12)
  }

  test("empty string normalizes to NULL (P7 contract carried over)") {
    val dir = write(Seq("""{"id": 5, "name": "  ", "born": ""}"""))
    val row = JsonlIngest.read(spark, dir, schema).collect()(0)
    assert(row.isNullAt(1) && row.isNullAt(3))
  }

  test("readChecked quarantines malformed lines and bad strict casts") {
    import graft.sources.CsvIngest
    import org.apache.spark.sql.functions.col
    val dir = write(Seq(
      """{"id": 1, "name": "good"}""",
      """{"id": "oops", "name": "bad_cast"}""",
      """this is not json at all""",
      """{"id": 4, "born": "not-a-date"}"""))
    val checked = JsonlIngest.readChecked(spark, Seq(dir), schema)
    val good = CsvIngest.goodRows(checked, schema).collect()
    assert(good.map(_.getLong(0)).toSet == Set(1L))
    val bad = CsvIngest.badRows(checked, schema)
      .select(col(CsvIngest.ReasonCol)).collect().map(_.getString(0))
    assert(bad.count(_ == "malformed_line") == 1)
    assert(bad.count(_.startsWith("bad_cast:")) == 2)
    assert(bad.exists(_ == "bad_cast:id"))
    assert(bad.exists(_ == "bad_cast:born"))
  }

  test("readChecked's bad rows are the same under any projection") {
    import graft.sources.CsvIngest
    import org.apache.spark.sql.functions.{col, count}
    val dir = write(Seq(
      """{"id": 1, "name": "good"}""",
      """{"id": "oops", "name": "bad_cast"}""",
      // broken in a field a pruned parse need not convert
      """{"id": 3, "name": }""",
      """{"id": 4, "name": "trailing"} junk""",
      """this is not json at all"""))
    val checked = JsonlIngest.readChecked(spark, Seq(dir), schema)
    val bad = checked.filter(col(CsvIngest.ReasonCol).isNotNull)
    val grouped = checked.groupBy(col(CsvIngest.SrcFileCol))
      .agg(count(col(CsvIngest.ReasonCol))).collect().head.getLong(1)
    val all = bad.collect().length.toLong
    assert((bad.count(), grouped) == (all, all))
  }
}
