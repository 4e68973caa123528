package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.SchemaLoader
import graft.sources.CsvIngest

/** Golden parity against the reference's OWN bundled fixtures
  * (read-only at /root/reference): its schema.json must compile to
  * the canonical 28-column StructType, and its sample CSVs must
  * ingest with the exact null/timestamp/decimal semantics SURVEY §1
  * documents — including the fraction-less timestamps the reference's
  * own formatters reject (we accept the documented superset). */
class ReferenceFixtureSpec extends SparkSpec {

  private val refRoot = "/root/reference/src/main/resources"

  /** Path of one reference fixture. Without the reference checkout the
    * test fails here, on one assertion that says how to fix it. */
  private def ref(file: String): String = {
    if (!Files.isDirectory(Paths.get(refRoot)))
      fail(s"reference fixtures missing: $refRoot does not exist. " +
        "Vendor schema.json, csv/sample1.csv, csv/sample2.csv and " +
        "application.properties byte for byte into " +
        "src/test/resources/reference/ and point refRoot there.")
    s"$refRoot/$file"
  }

  private lazy val refSchema: StructType =
    SchemaLoader.fromJson(Files.readString(Paths.get(ref("schema.json"))))

  test("reference schema.json compiles to the 28-column StructType") {
    assert(refSchema.fields.length == 28)
    val byName = refSchema.fields.map(f => f.name -> f).toMap
    assert(byName("id") == StructField("id", IntegerType, nullable = false))
    assert(byName("name").dataType == StringType)
    assert(byName("age").dataType == IntegerType)
    assert(byName("amount").dataType == DecimalType(10, 2))
    assert(byName("total").dataType == DecimalType(38, 2))
    assert(byName("birth_date").dataType == DateType)
    assert(byName("transaction_date").dataType == DateType)
    assert(byName("event_timestamp").dataType == TimestampNTZType)
    assert(byName("large_count").dataType == LongType)
    assert(byName("balance").dataType == LongType)
    // Everything except id is OPTIONAL → nullable.
    assert(refSchema.fields.count(_.nullable) == 27)
  }

  test("sample2.csv ingests with golden values and empty→null semantics") {
    val df = CsvIngest.read(spark, ref("csv/sample2.csv"), refSchema)
      .cache()
    assert(df.count() == 10)

    val r1 = df.filter(col("id") === 1).head()
    val g = r1.getValuesMap[Any](Seq("name", "age", "amount", "birth_date",
      "event_timestamp", "total", "status", "uuid"))
    assert(g("name") == "David")
    assert(g("age") == 35)
    assert(g("amount") == new java.math.BigDecimal("7890.12"))
    assert(g("birth_date") == java.sql.Date.valueOf("1980-05-20"))
    // Fraction-less timestamp, parsed by the superset chain (the
    // reference's own three formatters would reject this row).
    assert(g("event_timestamp") ==
      java.time.LocalDateTime.parse("2023-04-01T15:00:00"))
    assert(g("total") == new java.math.BigDecimal("543210.98"))
    assert(g("status") == "ACTIVE")
    assert(g("uuid") == "uuid-3456")

    // Rows 3, 6, 9 carry empty notes/comments cells → null.
    val nulls = df.filter(col("notes").isNull && col("comments").isNull)
      .select(col("id")).orderBy(col("id"))
      .collect().map(_.getInt(0)).toSeq
    assert(nulls == Seq(3, 6, 9))
  }

  test("sample1.csv + sample2.csv round-trip through parquet unchanged") {
    val df = CsvIngest.readAll(spark,
      Seq(ref("csv/sample1.csv"), ref("csv/sample2.csv")),
      refSchema)
    assert(df.count() == 13)
    val out = tmpDir("ref_roundtrip")
    df.write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      refSchema.map(f => (f.name, f.dataType)))
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("the reference's own application.properties parses completely") {
    import graft.sources.S3Conf
    val p = ConvertPipeline.loadProperties(ref("application.properties"))
    val s3 = S3Conf.validated(S3Conf.fromProperties(p))
    assert(s3.bucket == "swcsample-bucket-name")
    assert(s3.prefix == "swcca")
    assert(s3.endpoint.exists(_.startsWith("https://")))
    assert(s3.region.contains("custom"))
    assert(s3.accessKey.isDefined && s3.secretKey.isDefined)
    assert(s3.uri == "s3a://swcsample-bucket-name/swcca")
    // fail-fast parity (S3Uploader.java:38-40) when credentials drop
    val broken = new java.util.Properties(); broken.putAll(p)
    broken.remove("s3.accessKey")
    intercept[IllegalStateException] {
      S3Conf.validated(S3Conf.fromProperties(broken))
    }
  }
}
