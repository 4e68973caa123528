package graft

/** The session contract: what every graft session carries, and that
  * the flagship entry does not depend on it. */
class GraftSessionSpec extends SparkSpec {

  test("a contract session carries co-partitioning, UTC, one shuffle partition per core") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores == 4)
    assert(spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition") == "false")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cores.toString)
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.sparkContext.getConf.get("spark.network.timeout") == "600s")
  }

  test("SparkEntry.entry returns rows on a session with no graft configuration") {
    withBareSession() { bare =>
      assert(bare.conf.get("spark.sql.requireAllClusterKeysForCoPartition") == "true")
      assert(bare.conf.get("spark.sql.shuffle.partitions") == "200")
      assert(SparkEntry.entry(bare).count() > 0)
    }
  }
}
