package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.streaming.EventStreams

/** The bounded-replay runner the multi-batch stream gates share, and
  * the scoped-conf seam they start their queries under: batches are
  * processed one micro-batch each, a failed query is rethrown and
  * cleaned up, and no gate leaves a session setting behind. */
class StreamReplaySpec extends SparkSpec {

  import spark.implicits._

  private def ids(r: Range) = r.map(_.toLong).toDF("id")

  private def memory(df: org.apache.spark.sql.DataFrame, name: String,
      ck: String, mode: String): StreamingQuery =
    df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ck).outputMode(mode).start()

  test("replay: three batches through a stateful count, checkpoint dropped") {
    var q: StreamingQuery = null
    var ck: String = null
    EventStreams.replay("replay_spec_count", tmpDir("replay_count"),
        Seq(ids(1 to 5), ids(6 to 12), ids(13 to 15))) { (stream, c) =>
      ck = c
      q = memory(stream.groupBy().count(), "replay_spec_count", c,
        "complete")
      q
    }
    assert(spark.table("replay_spec_count").head().getLong(0) == 15L)
    assert(q.recentProgress.count(_.numInputRows > 0) == 3,
      "each batch should arrive as its own micro-batch")
    assert(!q.isActive)
    assert(ck != null && !new java.io.File(ck).exists(),
      s"checkpoint $ck left behind")
  }

  test("replay: each batch of several part files is one micro-batch") {
    val batches = (0 until 30).map(i =>
      spark.range(i * 8L, i * 8L + 8, 1, 8).toDF("id"))
    assert(batches.forall(_.rdd.getNumPartitions == 8))
    var q: StreamingQuery = null
    EventStreams.replay("replay_spec_split", tmpDir("replay_split"),
        batches) { (stream, c) =>
      q = memory(stream, "replay_spec_split", c, "append")
      q
    }
    assert(spark.table("replay_spec_split").count() == 240L)
    assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq ==
      Seq.fill(30)(8L))
  }

  test("replay: a query failing on the second batch is rethrown, stopped and cleaned up") {
    val boom = udf { (id: Long) => require(id >= 0, "boom"); id }
    var q: StreamingQuery = null
    var ck: String = null
    intercept[StreamingQueryException] {
      EventStreams.replay("replay_spec_fail", tmpDir("replay_fail"),
          Seq(ids(1 to 2), ids(-1 to -1))) { (stream, c) =>
        ck = c
        q = memory(stream.select(boom(col("id")).as("id")),
          "replay_spec_fail", c, "append")
        q
      }
    }
    assert(spark.table("replay_spec_fail").count() == 2L,
      "the first batch should have committed before the failure")
    assert(!q.isActive)
    assert(ck != null && !new java.io.File(ck).exists(),
      s"checkpoint $ck left behind")
  }

  test("withConf restores a set key and unsets an unset key, also when f throws") {
    val s = spark.newSession()
    val setKey = "spark.sql.shuffle.partitions"
    // registered with a default: getOption would report it as set
    val unsetKey = "spark.sql.autoBroadcastJoinThreshold"
    s.conf.set(setKey, "5")
    val before = s.conf.getAll
    assert(before.get(setKey).contains("5") && !before.contains(unsetKey))
    GraftSession.withConf(s, setKey -> "3", unsetKey -> "-1") {
      assert(s.conf.get(setKey) == "3" && s.conf.get(unsetKey) == "-1")
    }
    assert(s.conf.getAll == before)
    intercept[IllegalStateException] {
      GraftSession.withConf(s, setKey -> "3", unsetKey -> "-1") {
        throw new IllegalStateException("inside")
      }
    }
    assert(s.conf.getAll == before)
  }

  test("bloom_runtime_join and stream_dedup_rate leave the session conf unchanged") {
    val sf = "/root/testdata/sf0.001"
    Seq("bloom_runtime_join", "stream_dedup_rate").foreach { name =>
      val before = spark.conf.getAll
      assert(SparkEntry.queries(name)(spark, sf).collect().nonEmpty, name)
      val after = spark.conf.getAll
      assert(after == before, s"$name changed the session conf: " +
        s"before-only ${before.toSet -- after.toSet}, " +
        s"after-only ${after.toSet -- before.toSet}")
    }
  }
}
