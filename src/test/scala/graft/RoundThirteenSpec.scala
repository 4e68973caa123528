package graft

import org.apache.spark.sql.functions._

/** Round-13 (optimization round 2): focused pins for the two operator
  * internals this round rewrote for plan shape — the HNSW beam-walk
  * hop expansion (one frontier reference per hop instead of two) and
  * the JSONL export's pinned write width. Results of both are already
  * oracle-gated end-to-end; these tests pin the CONTRACTS the rewrite
  * argued from, on fixtures small enough to hand-verify. */
class RoundThirteenSpec extends SparkSpec {

  private lazy val sq = spark
  import sq.implicits._

  /** 2-D fixture: cosines to the query (1,0) rise along the chain
    * n1 → n2 → n3 → n4, node 99 is isolated (no adjacency rows). */
  private def walkFixture() = {
    def nm(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
    val vecs = Seq(
      1L -> Seq(0.0, 1.0),      // cos 0
      2L -> Seq(0.5, 0.866),    // cos ~0.5
      3L -> Seq(0.866, 0.5),    // cos ~0.866
      4L -> Seq(1.0, 0.0),      // cos 1 — the target
      99L -> Seq(-1.0, 0.0))    // isolated, cos -1
    val nodes = vecs.map { case (id, v) => (id, v, nm(v)) }
      .toDF("id", "v", "n")
    val adj = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 3L)).toDF("src", "dst")
    val qframe = Seq((0L, Seq(1.0, 0.0), 1.0))
      .toDF("query_id", "qv", "qn")
    (nodes, adj, qframe)
  }

  private def walk(frontier0: Seq[Long], beam: Int, hops: Int): Long = {
    val (nodes, adj, qframe) = walkFixture()
    val f0 = frontier0.map(n => (0L, n)).toDF("query_id", "node")
    graft.ops.Similarity
      .beamWalkFrom(nodes, adj, qframe, f0, beam, hops)
      .collect().map(_.getLong(1)).head
  }

  test("beam walk: greedy ascent reaches the far optimum along the " +
      "chain (hop expansion still explores neighbors)") {
    assert(walk(Seq(1L), beam = 1, hops = 4) == 4L)
  }

  test("beam walk: with one hop from the chain's far end the best " +
      "kept node is the single newly reachable neighbor") {
    // frontier {n1}: candidates after 1 hop = {n1, n2}; best cos = n2
    assert(walk(Seq(1L), beam = 1, hops = 1) == 2L)
  }

  test("beam walk: a frontier node with NO adjacency rows survives " +
      "the hop (the LEFT-join/union-carry contract)") {
    // the old union branch kept neighbor-less frontier nodes; the
    // round-13 left-join+explode form must too, or an isolated entry
    // would empty the frontier and the walk would emit nothing
    assert(walk(Seq(99L), beam = 1, hops = 3) == 99L)
  }

  test("jsonl export: one file per shard directory (the pinned write " +
      "width preserves the bounded-file-count contract)") {
    val out = s"${Scaffold.scratchBase}/r13spec_jsonl_export"
    graft.ops.TrainingData
      .exportJsonlShards(spark, "/root/testdata/sf0.001", out)
    val shardDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".txt"))
      assert(files.length == 1,
        s"${d.getName}: expected exactly one data file, " +
        s"got ${files.length}")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }
}
