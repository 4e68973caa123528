package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, Tables}
import graft.Scaffold.scratch

/** Runtime filtering — the two Spark mechanisms that turn a selective
  * join into a selective SCAN, which at 100 TB is the difference
  * between reading a table and reading a slice of it:
  *
  *   - DYNAMIC PARTITION PRUNING: a partitioned fact table joined to
  *     a filtered dimension scans only the partitions the dimension
  *     survives — the partition filter is a runtime subquery fed by
  *     the dim side (reusing its broadcast), so the pruning happens
  *     without knowing the matching keys at plan time.
  *   - RUNTIME BLOOM-FILTER JOIN: for non-partition join keys, the
  *     creation side's keys are folded into a bloom filter that is
  *     pushed into the application side's scan as a
  *     `bloom_filter_might_contain` pre-filter, discarding most
  *     non-matching rows before the shuffle.
  *
  * Both gates materialize their (dimension-sized) results eagerly so
  * the session confs they demonstrate are restored before returning —
  * plan assertions live in RuntimeFiltersSpec.
  */
object RuntimeFilters {

  /** Year-partitioned copy of orders (built once per sfDir). */
  private[ops] def partitionedOrders(s: SparkSession, dir: String): String = {
    val path = scratch(dir, "dpp_orders_by_year")
    val done = new java.io.File(s"$path/_SUCCESS")
    if (!done.exists()) {
      Tables.orders(s, dir)
        .withColumn("o_year", year(col("o_orderdate")).cast(IntegerType))
        .write.mode("overwrite").partitionBy("o_year").parquet(path)
    }
    path
  }

  /** The filtered dimension: (o_year, tag) rows for ODD years only —
    * written as its own table so the fact side cannot see the
    * surviving years until the dim scan runs. */
  private[ops] def yearDim(s: SparkSession, dir: String): String = {
    val path = scratch(dir, "dpp_year_dim")
    val done = new java.io.File(s"$path/_SUCCESS")
    if (!done.exists()) {
      Tables.orders(s, dir)
        .select(year(col("o_orderdate")).cast(IntegerType).as("o_year"))
        .distinct()
        .withColumn("tag", concat(lit("Y"), col("o_year")))
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** The DPP query shape shared by the gate and the plan spec. */
  private[graft] def dppQuery(s: SparkSession, dir: String): DataFrame = {
    val facts = s.read.parquet(partitionedOrders(s, dir))
    val dim = s.read.parquet(yearDim(s, dir))
      .filter(col("o_year") % 2 === 1)
    facts.join(broadcast(dim), "o_year")
      .groupBy(col("o_year"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))
      .orderBy(col("o_year"))
  }

  /** Gate: the pruned-scan answer must equal the oracle computed from
    * the unpartitioned table. */
  def dppGate(s: SparkSession, dir: String): DataFrame = {
    graft.Scaffold.setup { partitionedOrders(s, dir); yearDim(s, dir) }
    dppQuery(s, dir)
      .select(col("o_year").cast(LongType).as("o_year"), col("n"),
        col("sum_price"))
  }

  val dppSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders
      |WHERE year(o_orderdate) % 2 = 1
      |GROUP BY 1 ORDER BY o_year""".stripMargin

  /** The bloom-join query shape: lineitem (application side, big)
    * joined on orderkey to a SELECTIVE slice of orders (creation
    * side) — a shuffle join on purpose, so the only way to avoid
    * shuffling all of lineitem's non-matching rows is the runtime
    * bloom filter pushed into its scan. */
  private[graft] def bloomQuery(s: SparkSession, dir: String): DataFrame = {
    val sel = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    Tables.lineitem(s, dir)
      .join(sel.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_qty"))
  }

  /** Gate: run the query with the runtime bloom filter FORCED ON for
    * this data size (the application-side threshold defaults to
    * 10 GB), materialize the one-row answer, restore the confs. */
  def bloomGate(s: SparkSession, dir: String): DataFrame =
    GraftSession.withConf(s,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled" -> "false",
      // injection is skipped when the join could be planned as a
      // broadcast hash join — at 100 TB neither side broadcasts, which
      // is exactly the regime the bloom filter exists for
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val rows = bloomQuery(s, dir).collect().toSeq
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("n_lines", LongType),
          StructField("n_orders", LongType),
          StructField("sum_qty", DoubleType))))
    }

  val bloomSql: String =
    """SELECT COUNT(*) AS n_lines,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dpp_partition_prune" -> (dppGate _),
    "bloom_runtime_join"  -> (bloomGate _))

  def oracle: Map[String, String] = Map(
    "dpp_partition_prune" -> dppSql,
    "bloom_runtime_join"  -> bloomSql)
}
