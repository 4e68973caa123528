package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.ops.{ParityQueries, Relational, TimeSeries}

/** Planted-fixture invariants for the fourteenth round-6 operator
  * batch: dynamic partition overwrite, null-safe joins, and the
  * forecast-residual anomaly screen. */
class RoundSixBatchFourteenSpec extends SparkSpec {

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  private def ordersDir(name: String, rows: Seq[Row]): String = {
    val dir = tmpDir(name)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), ordersSchema)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("conv_dynamic_overwrite: restated month doubles, control " +
    "month untouched, no rows lost") {
    // 1995-03-15 and 1995-06-15 UTC
    val mar = 795225600000L
    val jun = 803174400000L
    val dir = ordersDir("r6b14_dyn", Seq(
      Row(1L, 1L, "F", 100.0, new Timestamp(mar), "1"),
      Row(2L, 1L, "F", 100.0, new Timestamp(mar + 86400000L), "1"),
      Row(3L, 1L, "F", 50.0, new Timestamp(jun), "1"),
      Row(4L, 1L, "F", 50.0, new Timestamp(jun + 86400000L), "1")))
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(mode)
    val r = ParityQueries.convDynamicOverwrite(spark, dir)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2))
      === ((4L, 40000L, 10000L)))
    // dynamic mode is a per-write option: the session value is untouched
    assert(spark.conf.getOption(mode) === before)
  }

  test("q56_null_safe_join: NULL keys match each other under <=>, " +
    "and only each other") {
    val dir = ordersDir("r6b14_nsj", Seq(
      Row(1L, 1L, "F", 1.0, new Timestamp(0L), "A"),
      Row(2L, 1L, "F", 1.0, new Timestamp(0L), "A"),
      Row(11L, 1L, "F", 1.0, new Timestamp(0L), "X"), // -> NULL
      Row(22L, 1L, "F", 1.0, new Timestamp(0L), "Y"))) // -> NULL
    val r = Relational.q56NullSafeJoin(spark, dir).collect().head
    // value block A×A = 4 pairs; NULL block 2×2 = 4 pairs
    assert((r.getLong(0), r.getLong(1), r.getLong(2))
      === ((8L, 4L, 4L)))
  }

  test("ts_forecast_anomaly: weekly seasonality never alarms, a " +
    "one-day spike in week 3 does") {
    val day0 = 788918400000L // 1995-01-01 UTC
    val rows = (0 until 21).map { i =>
      val price = if (i == 17) 500.0 else 100.0 // 1995-01-18 spike
      Row(i.toLong + 1, 1L, "F", price,
        new Timestamp(day0 + i.toLong * 86400000L), "1")
    }
    val dir = ordersDir("r6b14_fa", rows)
    val got = TimeSeries.tsForecastAnomaly(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq === Seq(("1995-01-18", 40000L, 0L, 0L)))
  }
}
