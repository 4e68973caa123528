package graft

import org.apache.spark.sql.functions.{col, unix_micros}

import graft.ops.Graph

/** The event-transition edge frame that every event-graph gate
  * reads ([[Graph.transitionPairs]], [[Graph.weightedTransitions]]),
  * checked against a plain-Scala recomputation from the collected
  * events: group by user, sort by (ts, event_id), pair consecutive
  * event types. No Spark window is involved on the expected side. */
class GraphEdgesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private lazy val events = Tables.events(spark, sf)

  private lazy val expected: Seq[(String, String)] =
    events
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type"))
      .collect().toSeq
      .groupBy(_.getLong(0)).values.toSeq
      .flatMap { rows =>
        rows.sortBy(r => (r.getLong(1), r.getLong(2)))
          .map(_.getString(3))
          .sliding(2).collect { case Seq(a, b) => (a, b) }
      }

  test("transitionPairs: one (src, dst) row per consecutive event " +
      "pair of each user, recomputed in plain Scala") {
    val users = events.select("user_id").distinct().count()
    // every event but each user's last has a successor
    assert(expected.size === events.count() - users)
    val got = Graph.transitionPairs(events)
    assert(got.columns.toSeq === Seq("src", "dst"))
    assert(got.collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq.sorted === expected.sorted)
  }

  test("weightedTransitions: w counts each recomputed pair") {
    val got = Graph.weightedTransitions(events)
    assert(got.columns.toSeq === Seq("src", "dst", "w"))
    val want = expected.groupBy(identity).map { case (k, v) =>
      k -> v.size.toLong }
    val rows = got.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
    assert(rows.length === want.size, "one row per distinct pair")
    assert(rows.toMap === want)
  }
}
