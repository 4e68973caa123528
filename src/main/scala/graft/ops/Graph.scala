package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Checkpoint, Tables}

/** Iterative graph analytics beyond connected components
  * ([[Dedup.componentsOver]] / star contraction): PageRank over the
  * event-type transition graph — per user, consecutive events form a
  * directed (type → next type) edge; weights are transition counts.
  *
  * Scale shape: the edge list is built with ONE windowed pass over
  * events (partitioned by user — thousands of independent partitions)
  * and aggregated map-side to O(types²) weighted edges. Each PageRank
  * round joins the distributed edge list against the rank vector —
  * broadcast here (O(nodes)); for graphs whose node set outgrows a
  * broadcast, the same plan becomes a shuffle join on `src` with the
  * edge list pre-partitioned by src so only the rank vector moves.
  * Every intermediate rank frame is localCheckpoint'd so lineage
  * stays flat across rounds.
  *
  * Determinism: ranks live as SCALED LONGS (r = rank × 10¹²) and all
  * updates are integer ops — per-edge contribution `(r·w) div out_w`,
  * damping `(85·Σcontrib) div 100`, teleport `⌊0.15·10¹²/N⌋` — so the
  * fixpoint values are bit-exact and hash-gateable; the oracle
  * unrolls the same integer recurrence (floor vs truncate never
  * diverges: every operand is non-negative). Dangling-node mass is
  * dropped (the plain Brin–Page variant); documents the choice so
  * both engines agree by construction.
  */
object Graph {

  private val One = 1000000000000L // rank scale: 10^12

  /** The event-transition edges every event graph here is built on:
    * per user, in `(ts, event_id)` order, each event's type paired
    * with the next event's type — one `(src, dst)` row per consecutive
    * pair (a user's last event has no successor and yields no row).
    * One windowed pass over events, partitioned by user. Callers add
    * their own step: `dst =!= src`, `src < dst`, `distinct` or a
    * count. */
  private[graft] def transitionPairs(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev.select(col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
  }

  /** [[transitionPairs]] counted: one `(src, dst, w)` row per distinct
    * transition, `w` = how often it occurs. */
  private[graft] def weightedTransitions(ev: DataFrame): DataFrame =
    transitionPairs(ev)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))

  /** DuckDB twin of [[transitionPairs]]'s window: the CTE
    * `ord(src, dst)`. Unlike the frame it keeps each user's last event
    * (with a NULL `dst`), so readers filter `dst IS NOT NULL`. A `val`
    * above every oracle that splices it, so it is set before they are
    * built. */
  private val OrdSql: String =
    """ord AS (
      |  SELECT event_type AS src,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS dst
      |  FROM events)""".stripMargin

  /** DuckDB twin of [[weightedTransitions]]: the CTE
    * `edges(src, dst, w)` over [[OrdSql]]. */
  private val EdgesSql: String =
    """edges AS (SELECT src, dst, COUNT(*) AS w FROM ord
      |          WHERE dst IS NOT NULL GROUP BY src, dst)""".stripMargin

  /** One PageRank round: rank mass flows along the (weighted) edges,
    * is damped, and re-assembles over the node set. Two physical
    * shapes behind the `broadcastRanks` knob:
    *
    *   - `true` (default): the rank vector and out-weight table are
    *     BROADCAST against the distributed edge list — right while
    *     O(nodes) fits an executor (here: event types);
    *   - `false`: the SHUFFLE-JOIN fallback for node sets that
    *     outgrow a broadcast (user graphs, doc-link graphs): the
    *     edge list arrives pre-partitioned by `src`, the joins are
    *     hinted `shuffle_hash`, so each round re-shuffles ONLY the
    *     O(nodes) rank vector to the edges' existing partitioning —
    *     the edge list (the 100 TB side) never moves after its one
    *     up-front partition. Same integer arithmetic, bit-identical
    *     fixpoint; JoinStrategySpec pins the no-broadcast plan.
    */
  private[graft] def rankStep(edges: DataFrame, outw: DataFrame,
      nodes: DataFrame, ranks: DataFrame, n: Long,
      broadcastRanks: Boolean): DataFrame = {
    val rankSrc = ranks.withColumnRenamed("node", "src")
    val joined =
      if (broadcastRanks)
        edges.join(broadcast(outw), "src").join(broadcast(rankSrc), "src")
      else
        edges.join(outw.hint("shuffle_hash"), "src")
          .join(rankSrc.hint("shuffle_hash"), "src")
    val contrib = joined
      .select(col("dst").as("node"), expr("(r * w) div ow").as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("c"))
    // In shuffle mode the node set is as big as the rank vector —
    // the re-assembly join must not broadcast either.
    val assembled =
      if (broadcastRanks) nodes.join(contrib, Seq("node"), "left")
      else nodes.join(contrib.hint("shuffle_hash"), Seq("node"), "left")
    assembled
      .select(col("node"),
        (lit((One * 15 / 100) / n) +
          coalesce(expr("(85 * c) div 100"), lit(0L))).as("r"))
  }

  def pageRank(s: SparkSession, dir: String, iters: Int = 5,
      broadcastRanks: Boolean = true): DataFrame = {
    val ev = Tables.events(s, dir)
    val edgesRaw = weightedTransitions(ev)
    // Shuffle-join mode pays ONE up-front hash partition of the edge
    // list on the join key; every later round reuses that layout.
    val edges = (if (broadcastRanks) edgesRaw
                 else edgesRaw.repartition(col("src")))
      .localCheckpoint()
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      .localCheckpoint()
    val nodes = ev.select(col("event_type").as("node"))
      .distinct().localCheckpoint()
    val n = nodes.count()
    var ranks = nodes.withColumn("r", lit(One / n))
    for (_ <- 1 to iters) {
      ranks = rankStep(edges, outw, nodes, ranks, n, broadcastRanks)
        .localCheckpoint()
    }
    ranks.orderBy(col("node"))
  }

  /** The same integer recurrence unrolled as chained CTEs (standard
    * SQL forbids aggregation in a recursive term, so the fixed
    * iteration count is written out). */
  def pageRankSql(iters: Int = 5): String = {
    val base =
      s"""WITH $OrdSql,
         |$EdgesSql,
         |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT event_type AS node FROM events),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |it0 AS (SELECT node, 1000000000000 // (SELECT n FROM nn) AS r
         |        FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""it$i AS (
         |  SELECT nd.node,
         |    150000000000 // (SELECT n FROM nn)
         |      + COALESCE((85 * s.c) // 100, 0) AS r
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, SUM((p.r * e.w) // o.ow) AS c
         |    FROM edges e
         |    JOIN it${i - 1} p ON p.node = e.src
         |    JOIN outw o ON o.src = e.src
         |    GROUP BY e.dst) s ON s.node = nd.node)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(r AS BIGINT) AS r FROM it$iters ORDER BY node"
  }

  /** First-order Markov transition matrix of the same event graph:
    * P(dst | src) as integer parts-per-million (`(w·10⁶) div out_w` —
    * scaled-long discipline, hash-exact). The edge/out-weight
    * aggregates are shared shapes with [[pageRank]]; the probability
    * projection is pure codegen. The "what happens next" model a
    * product-analytics engine serves directly, and the input to any
    * sequence-model pre-training filter on behavioral data. */
  def transitions(s: SparkSession, dir: String): DataFrame = {
    val edges = weightedTransitions(Tables.events(s, dir))
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    edges.join(broadcast(outw), "src")
      .select(col("src"), col("dst"), col("w"),
        expr("(w * 1000000) div ow").as("p_ppm"))
      .orderBy(col("src"), col("dst"))
  }

  val transitionsSql: String =
    s"""WITH $OrdSql,
       |$EdgesSql,
       |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src)
       |SELECT e.src, e.dst, e.w,
       |  CAST((e.w * 1000000) // o.ow AS BIGINT) AS p_ppm
       |FROM edges e JOIN outw o ON o.src = e.src
       |ORDER BY e.src, e.dst""".stripMargin

  /** Distributed triangle counting via degree orientation (the
    * MapReduce-curse-breaking formulation, Suri & Vassilvitskii
    * WWW'11): every undirected edge is pointed from its (degree, id)-
    * smaller endpoint to the larger, making the graph acyclic with
    * per-node out-degree O(√m) on any graph of arboricity O(√m) — so
    * the wedge self-join (the quadratic hazard: a celebrity node's
    * neighborhood) is bounded by Σ outdeg² instead of Σ deg².
    * Each triangle has exactly ONE vertex with two out-edges under
    * this orientation, so the wedge→closing-edge join counts every
    * triangle exactly once, no /3 correction, no duplicates.
    *
    * Shuffles carry only node-id pairs: degrees are one map-side-
    * combined aggregation; the wedge join and the closing-edge join
    * are equi hash joins on node ids. Returns per-node triangle
    * participation counts. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.toDF("u", "v")
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val low = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = und
      .join(deg.toDF("u", "du"), "u")
      .join(deg.toDF("v", "dv"), "v")
      .select(when(low, col("u")).otherwise(col("v")).as("s"),
              when(low, col("v")).otherwise(col("u")).as("t"))
    val wedges = oriented.toDF("s", "b")
      .join(oriented.toDF("s", "c"), "s")
      .filter(col("b") < col("c"))
    val tri = wedges.join(und.toDF("b", "c"), Seq("b", "c"))
      .select(col("s").as("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("node"))
  }

  /** Gate: triangles of the near-duplicate pair graph over the
    * bounded mutated corpus — each {original, whitespace-mutant,
    * drop-token-mutant} group whose three pairwise Jaccards clear the
    * 0.6 threshold closes into one triangle. Edges are the (already
    * hash-gated) [[Dedup.ngramJaccard]] pairs; the oracle re-derives
    * the same pairs brute-force and closes triangles with a 3-way
    * self-join. */
  def triangles(s: SparkSession, dir: String): DataFrame =
    triangleCounts(Dedup.ngramJaccard(s, dir).select(col("id_a"), col("id_b")))

  val trianglesSql: String =
    s"""WITH ${DocCorpus.CorpusSql},
       |${Dedup.shingleSetsSql("corpus WHERE doc_id % 10000 < 100")},
       |${Dedup.jaccardPairsSql(0.6)},
       |tri AS (
       |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
       |  FROM pairs e1
       |  JOIN pairs e2 ON e2.id_a = e1.id_b
       |  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
       |SELECT node, count(*) AS n_tri FROM (
       |  SELECT a AS node FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri)
       |GROUP BY node
       |ORDER BY node""".stripMargin

  /** Clustering coefficient — transitivity of the near-duplicate
    * pair graph, local and global: per node,
    * `2·tri(v)·10⁶ div (deg·(deg−1))` (how closed is v's
    * neighborhood), plus the global
    * `3·triangles·10⁶ div Σ deg(deg−1)/2` repeated per row. On a
    * match graph this is the consistency diagnostic: transitive
    * duplicate relations close their wedges, so a LOW coefficient
    * flags contradictory pairwise decisions before clustering. All
    * quantities exact non-negative BIGINTs.
    *
    * Scale: per-node triangle counts come from the degree-oriented
    * [[triangleCounts]] wedge join (Σ outdeg² bound); degrees are
    * one map-combinable groupBy. */
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.ngramJaccard(s, dir)
      .select(col("id_a"), col("id_b")).localCheckpoint()
    val deg = edges
      .select(explode(array(col("id_a"), col("id_b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tri = triangleCounts(edges)
    val per = deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
    val tot = per.agg(
      expr("sum(n_tri) div 3").as("tri3"),
      sum(expr("(deg * (deg - 1)) div 2")).as("wedges"))
    per.crossJoin(broadcast(tot))
      .selectExpr("node", "deg", "n_tri",
        "CASE WHEN deg >= 2" +
          " THEN (2L * n_tri * 1000000L) div (deg * (deg - 1L))" +
          " ELSE 0L END AS local_ppm",
        "CASE WHEN wedges > 0" +
          " THEN (3L * tri3 * 1000000L) div wedges" +
          " ELSE 0L END AS global_ppm")
      .orderBy(col("node"))
  }

  lazy val clusteringCoeffSql: String =
    s"""WITH ${DocCorpus.CorpusSql},
       |${Dedup.shingleSetsSql("corpus WHERE doc_id % 10000 < 100")},
       |${Dedup.jaccardPairsSql(0.6)},
       |deg AS (
       |  SELECT node, COUNT(*) AS deg FROM (
       |    SELECT id_a AS node FROM pairs
       |    UNION ALL SELECT id_b FROM pairs)
       |  GROUP BY node),
       |tri AS (
       |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
       |  FROM pairs e1
       |  JOIN pairs e2 ON e2.id_a = e1.id_b
       |  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
       |ntri AS (
       |  SELECT node, COUNT(*) AS n_tri FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY node),
       |per AS (
       |  SELECT d.node, d.deg,
       |    CAST(COALESCE(n.n_tri, 0) AS BIGINT) AS n_tri
       |  FROM deg d LEFT JOIN ntri n ON n.node = d.node),
       |tot AS (
       |  SELECT CAST(SUM(n_tri) // 3 AS BIGINT) AS tri3,
       |    CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS wedges
       |  FROM per)
       |SELECT p.node, p.deg, p.n_tri,
       |  CASE WHEN p.deg >= 2
       |    THEN CAST((2 * p.n_tri * 1000000)
       |      // (p.deg * (p.deg - 1)) AS BIGINT)
       |    ELSE 0 END AS local_ppm,
       |  CASE WHEN t.wedges > 0
       |    THEN CAST((3 * t.tri3 * 1000000) // t.wedges AS BIGINT)
       |    ELSE 0 END AS global_ppm
       |FROM per p CROSS JOIN tot t
       |ORDER BY p.node""".stripMargin

  /** Power-law degree-distribution fit — the Clauset–Shalizi–Newman
    * MLE `α = 1 + n / Σ ln(d_i / (d_min − ½))` (continuous
    * approximation, d_min = 1) over the near-duplicate pair graph's
    * degrees: the one-number answer to "is this similarity graph
    * scale-free or template-dominated?". Per-distinct-degree terms
    * `ln(2d)` are 1e-9-snapped and multiplied by exact counts before
    * the BIGINT sum (the repo's ln discipline); α is emitted as an
    * integer ppm from one `div`.
    *
    * Scale: degrees are one map-combinable groupBy; the fit runs on
    * the O(distinct degrees) histogram. */
  def powerlawAlpha(s: SparkSession, dir: String): DataFrame = {
    val deg = Dedup.ngramJaccard(s, dir)
      .select(col("id_a"), col("id_b"))
      .select(explode(array(col("id_a"), col("id_b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    deg.groupBy(col("d")).agg(count(lit(1)).as("c"))
      .select(col("d"), col("c"),
        (col("c") * expr(
          "CAST(floor(ln(2.0 * CAST(d AS DOUBLE))" +
          " * 1000000000.0 + 0.5) AS BIGINT)")).as("t9"))
      .agg(sum(col("c")).as("n_nodes"), max(col("d")).as("max_deg"),
        sum(col("t9")).as("sum_ln_e9"))
      .selectExpr("n_nodes", "max_deg", "sum_ln_e9",
        "CASE WHEN sum_ln_e9 > 0 THEN 1000000L" +
          " + (n_nodes * 1000000000000000L) div sum_ln_e9" +
          " ELSE 0L END AS alpha_ppm")
  }

  val powerlawAlphaSql: String =
    s"""WITH ${DocCorpus.CorpusSql},
       |${Dedup.shingleSetsSql("corpus WHERE doc_id % 10000 < 100")},
       |${Dedup.jaccardPairsSql(0.6)},
       |deg AS (
       |  SELECT node, COUNT(*) AS d FROM (
       |    SELECT id_a AS node FROM pairs
       |    UNION ALL SELECT id_b FROM pairs)
       |  GROUP BY node),
       |hist AS (SELECT d, COUNT(*) AS c FROM deg GROUP BY d),
       |terms AS (
       |  SELECT d, c,
       |    c * CAST(floor(ln(2.0 * CAST(d AS DOUBLE))
       |      * 1000000000.0 + 0.5) AS BIGINT) AS t9
       |  FROM hist),
       |tot AS (
       |  SELECT CAST(SUM(c) AS BIGINT) AS n_nodes,
       |    CAST(MAX(d) AS BIGINT) AS max_deg,
       |    CAST(SUM(t9) AS BIGINT) AS sum_ln_e9
       |  FROM terms)
       |SELECT n_nodes, max_deg, sum_ln_e9,
       |  CASE WHEN sum_ln_e9 > 0 THEN CAST(1000000
       |    + (n_nodes * 1000000000000000) // sum_ln_e9 AS BIGINT)
       |  ELSE 0 END AS alpha_ppm
       |FROM tot""".stripMargin

  /** k-truss decomposition (k = 3): the triangle-supported subgraph —
    * iteratively delete every edge lying in fewer than k−2 triangles
    * until a fixpoint, leaving only "socially reinforced" edges. On
    * the near-duplicate pair graph this separates genuine duplicate
    * CLUSTERS (mutant groups close into triangles) from incidental
    * pairwise matches — a stronger community signal than [[kcore]]
    * (degree) because it demands closed wedges, and the standard
    * pre-step before community labeling on noisy similarity graphs.
    *
    * Per round: edge support = |N(a) ∩ N(b)| by ONE wedge equi-join
    * of the edge list against its symmetrized self (the
    * [[triangleCounts]] machinery edge-centric), then an integer
    * support filter. Deletion cascades, so rounds repeat; a
    * post-loop round ASSERTS the fixpoint (the [[sssp]] discipline)
    * so truncated output can never hash green. Counts are exact
    * BIGINTs.
    *
    * Scale: each round shuffles O(wedges) — bounded by Σ deg² of the
    * CURRENT (shrinking) graph; the degree-orientation bound of
    * [[triangleCounts]] applies to the wedge join unchanged. */
  def kTruss(s: SparkSession, dir: String, k: Int = 3,
      iters: Int = 3): DataFrame = {
    def support(ed: DataFrame): DataFrame = {
      val sym = ed.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionByName(ed.select(col("id_b").as("u"), col("id_a").as("v")))
      ed.join(sym.toDF("id_a", "c"), "id_a")
        .join(sym.toDF("id_b", "c"), Seq("id_b", "c"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("sup"))
    }
    var e = Dedup.ngramJaccard(s, dir)
      .select(col("id_a"), col("id_b")).localCheckpoint()
    for (_ <- 1 to iters)
      e = support(e).filter(col("sup") >= (k - 2).toLong)
        .select(col("id_a"), col("id_b")).localCheckpoint()
    val fin = support(e).filter(col("sup") >= (k - 2).toLong)
      .localCheckpoint()
    require(fin.count() == e.count(),
      s"kTruss: $iters rounds did not reach the fixpoint — raise " +
      "iters on BOTH the engine and the unrolled oracle")
    fin.select(col("id_a"), col("id_b"), col("sup"))
      .orderBy(col("id_a"), col("id_b"))
  }

  def kTrussSql(k: Int = 3, iters: Int = 3): String = {
    val prefix =
      s"""WITH ${DocCorpus.CorpusSql},
         |${Dedup.shingleSetsSql("corpus WHERE doc_id % 10000 < 100")},
         |${Dedup.jaccardPairsSql(0.6)},
         |e0 AS (SELECT id_a, id_b FROM pairs)""".stripMargin
    val rounds = (0 until iters).map { i =>
      s"""sym$i AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM e$i
         |          UNION ALL SELECT id_b, id_a FROM e$i),
         |s$i AS MATERIALIZED (
         |  SELECT e.id_a, e.id_b, COUNT(*) AS sup
         |  FROM e$i e
         |  JOIN sym$i n1 ON n1.u = e.id_a
         |  JOIN sym$i n2 ON n2.u = e.id_b AND n2.v = n1.v
         |  GROUP BY e.id_a, e.id_b),
         |e${i + 1} AS MATERIALIZED (SELECT id_a, id_b FROM s$i
         |              WHERE sup >= ${k - 2})""".stripMargin
    }
    val f = iters
    (prefix +: rounds).mkString(",\n") +
      s""",
         |symf AS (SELECT id_a AS u, id_b AS v FROM e$f
         |         UNION ALL SELECT id_b, id_a FROM e$f),
         |sf AS (
         |  SELECT e.id_a, e.id_b, COUNT(*) AS sup
         |  FROM e$f e
         |  JOIN symf n1 ON n1.u = e.id_a
         |  JOIN symf n2 ON n2.u = e.id_b AND n2.v = n1.v
         |  GROUP BY e.id_a, e.id_b)
         |SELECT id_a, id_b, CAST(sup AS BIGINT) AS sup
         |FROM sf WHERE sup >= ${k - 2}
         |ORDER BY id_a, id_b""".stripMargin
  }

  /** Multi-source frontier BFS: minimum hop distance from a seed set
    * over an undirected edge list. Per round, ONLY the current
    * frontier joins the (symmetrized, src-pre-partitioned) edge list.
    * The BFS layer property bounds re-discovery: a neighbor of a
    * distance-(h−1) node has distance in {h−2, h−1, h}, so the
    * anti-join subtracts just the PREVIOUS TWO frontiers — never a
    * consolidated visited set. Each round is therefore O(frontier
    * adjacency) in shuffle AND in anti-join probe size no matter how
    * many layers have accumulated, the edge list never moves after
    * its one up-front partition, one `localCheckpoint` per round is
    * the only materialization, and the loop exits when a frontier
    * comes back empty. Distances assemble at the end as a union of
    * the checkpointed layers. For graphs whose DIAMETER (not size)
    * is the problem, the doubling transform
    * ([[Dedup.componentsByStarContraction]]'s log-round trick)
    * applies instead; plain frontier BFS is the right default when
    * diameter ≪ rounds a 100 TB join budget allows.
    */
  def bfsDistances(nodes: DataFrame, edges: DataFrame,
      sources: DataFrame, maxIters: Int = 64): DataFrame = {
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(col("src"))
      .localCheckpoint()
    var prev = nodes.select(col("id")).limit(0)
    var frontier = sources.select(col("id")).distinct().localCheckpoint()
    val layers = scala.collection.mutable.ArrayBuffer(
      frontier.withColumn("dist", lit(0L)))
    var hop = 0L
    while (hop < maxIters && frontier.count() > 0) {
      hop += 1
      val next = sym
        .join(frontier.withColumnRenamed("id", "src")
          .hint("shuffle_hash"), "src")
        .select(col("dst").as("id")).distinct()
        .join(prev.union(frontier).hint("shuffle_hash"),
          Seq("id"), "left_anti")
        .localCheckpoint()
      prev = frontier
      frontier = next
      layers += frontier.withColumn("dist", lit(hop))
    }
    layers.reduce(_ union _)
  }

  /** Gate: 16 eight-deep doc_id chains (edges i—i+1 within each),
    * seeded at every chain head PLUS an off-center seed (doc 37)
    * inside chain 4, so min-distance merging across seeds is
    * exercised and the expected distances stay closed-form for the
    * oracle. Depth 8 keeps the sequential round count at 7 — the
    * gate exercises multi-hop layering without paying 2× the rounds
    * for no extra coverage. */
  def bfsGate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id")).filter(col("doc_id") < 128)
    val edges = d.toDF("id_a")
      .join(d.toDF("id_b"), col("id_b") === col("id_a") + 1)
      .filter(col("id_a") % 8 =!= 7)
    val sources = d.filter(col("doc_id") % 8 === 0 ||
        col("doc_id") === 37)
      .select(col("doc_id").as("id"))
    bfsDistances(d.toDF("id"), edges, sources)
      .select(col("id").as("doc_id"), col("dist"))
      .orderBy(col("doc_id"))
  }

  val bfsSql: String =
    """SELECT doc_id,
      |  CAST(LEAST(doc_id % 8,
      |    CASE WHEN doc_id // 8 = 4 THEN abs(doc_id - 37)
      |         ELSE 9999 END) AS BIGINT) AS dist
      |FROM documents WHERE doc_id < 128
      |ORDER BY doc_id""".stripMargin

  /** k-core: iteratively peel nodes of degree < k until the residual
    * graph is stable; returns surviving nodes with their in-core
    * degree. Per round: one map-combinable degree count over the
    * residual edge list, one anti-join to drop edges touching peeled
    * nodes, one `localCheckpoint`. The loop exits when no node falls
    * below k. Work per round is O(residual edges) and the residual
    * only shrinks — the standard distributed peeling shape; the
    * peeled-node frame driving each anti-join is O(newly peeled),
    * not O(graph).
    */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 32): DataFrame = {
    var sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(col("src"))
      .localCheckpoint()
    var it = 0
    var stable = false
    while (it < maxIters && !stable) {
      it += 1
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val peel = deg.filter(col("deg") < k).select(col("src").as("id"))
        .localCheckpoint()
      if (peel.count() == 0) stable = true
      else {
        sym = sym
          .join(peel.withColumnRenamed("id", "src")
            .hint("shuffle_hash"), Seq("src"), "left_anti")
          .join(peel.withColumnRenamed("id", "dst")
            .hint("shuffle_hash"), Seq("dst"), "left_anti")
          .localCheckpoint()
      }
    }
    sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
  }

  /** Gate: two K6 cliques (docs 0–5 and 10–15, all pairs) plus
    * 6-long chains over docs 20–55 (i—i+1 within each decade,
    * i%10 < 5). The 3-core is exactly the clique nodes at degree 5:
    * every chain node has degree ≤ 2 and the whole chain layer peels
    * in one round, so the loop converges in 2 rounds. */
  def kCoreGate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id")).filter(col("doc_id") < 56)
    val cliq = d.toDF("id_a").join(d.toDF("id_b"),
      col("id_a") < col("id_b") &&
        ((col("id_a") < 6 && col("id_b") < 6) ||
          (col("id_a").between(10, 15) && col("id_b").between(10, 15))))
    val chains = d.toDF("id_a")
      .join(d.toDF("id_b"), col("id_b") === col("id_a") + 1)
      .filter(col("id_a") >= 20 && col("id_a") % 10 < 5)
    kCore(cliq.union(chains), k = 3)
      .select(col("id").as("doc_id"), col("deg"))
      .orderBy(col("doc_id"))
  }

  val kCoreSql: String =
    """SELECT doc_id, CAST(5 AS BIGINT) AS deg
      |FROM documents
      |WHERE doc_id < 6 OR doc_id BETWEEN 10 AND 15
      |ORDER BY doc_id""".stripMargin

  /** Symmetric weighted event-transition edges — the shared graph
    * substrate for [[labelPropagation]] and [[conductance]]: each
    * user's consecutive-event transitions become undirected weighted
    * edges between event types. */
  private[graft] def transitionEdgesSym(s: SparkSession,
      dir: String): DataFrame = {
    val directed = transitionPairs(Tables.events(s, dir))
      .filter(col("dst") =!= col("src"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    directed
      .unionByName(directed.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
  }

  /** Synchronous label propagation (community detection): every node
    * starts with a unique label (its rank in node order); each round,
    * a node adopts the WEIGHTED MAJORITY label among its neighbors
    * (edge weight = transition count, graph symmetrized), ties to the
    * smallest label — the deterministic LPA variant, so a fixed
    * iteration count gives a hash-gateable fixpoint (plain LPA's
    * random tie-break/ordering is not reproducible across engines).
    *
    * Scale: identical physics to [[pageRank]] — the edge list
    * partitions once, each round shuffles only the O(nodes) label
    * vector; the majority vote is a groupBy on (dst, label) whose
    * key count is bounded by the edge count, then a per-node top-1
    * (`max_by` over the vote struct — map-side combinable, no
    * window). Nodes without in-edges keep their label. */
  def labelPropagation(s: SparkSession, dir: String,
      iters: Int = 4): DataFrame = {
    val ev = Tables.events(s, dir)
    val edges = transitionEdgesSym(s, dir).localCheckpoint()
    val nodes = ev.select(col("event_type").as("node")).distinct()
    var labels = nodes
      .withColumn("lab",
        row_number().over(Window.orderBy(col("node"))).cast("long"))
      .localCheckpoint() // O(types) window: metadata-sized
    for (_ <- 1 to iters) {
      val votes = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"), col("lab"))
        .agg(sum(col("w")).as("vw"))
        .groupBy(col("dst"))
        // majority with min-label tie-break: max over (weight, -lab)
        .agg(max_by(col("lab"),
          struct(col("vw"), (-col("lab")).as("neg"))).as("new_lab"))
      labels = labels
        .join(votes.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("new_lab"), col("lab")).as("lab"))
        .localCheckpoint()
    }
    labels.orderBy(col("node"))
  }

  /** The same synchronous recurrence unrolled as chained CTEs. */
  def labelPropagationSql(iters: Int = 4): String =
    labelPropBody(iters) +
      s"\nSELECT node, lab FROM it$iters ORDER BY node"

  /** All CTEs of [[labelPropagationSql]] WITHOUT the final SELECT,
    * so composite oracles ([[conductanceSql]]) can extend the chain. */
  private def labelPropBody(iters: Int): String = {
    val base =
      s"""WITH $OrdSql,
         |dedges AS (SELECT src, dst, COUNT(*) AS w FROM ord
         |           WHERE dst IS NOT NULL AND dst <> src
         |           GROUP BY src, dst),
         |edges AS (
         |  SELECT src, dst, SUM(w) AS w FROM (
         |    SELECT src, dst, w FROM dedges
         |    UNION ALL SELECT dst, src, w FROM dedges)
         |  GROUP BY src, dst),
         |nodes AS (SELECT DISTINCT event_type AS node FROM events),
         |it0 AS (SELECT node,
         |          CAST(row_number() OVER (ORDER BY node) AS BIGINT)
         |            AS lab
         |        FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""it$i AS (
         |  SELECT n.node, COALESCE(v.new_lab, p0.lab) AS lab
         |  FROM nodes n
         |  JOIN it${i - 1} p0 ON p0.node = n.node
         |  LEFT JOIN (
         |    -- (vw, -lab) priority packed into one BIGINT: labels
         |    -- are row_numbers over the node set, < 10^6 here
         |    SELECT dst AS node,
         |      arg_max(lab, CAST(vw AS BIGINT) * 1000000 - lab)
         |        AS new_lab
         |    FROM (
         |      SELECT e.dst, p.lab, SUM(e.w) AS vw
         |      FROM edges e JOIN it${i - 1} p ON p.node = e.src
         |      GROUP BY e.dst, p.lab)
         |    GROUP BY dst) v ON v.node = n.node)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** Community-quality audit: the CONDUCTANCE of every community the
    * label-propagation pass finds — `cut(C) / min(vol(C), vol(rest))`
    * with vol = weighted degree sum and cut = weight leaving C. Low
    * conductance ⇒ a real community (few escaping edges); a value
    * near 1e6 ppm flags a label that never cohered. This is the
    * measurement half of [[labelPropagation]], the check a pipeline
    * runs before trusting communities for negative sampling or
    * stratification. Exact integer arithmetic: weights are counts,
    * the single division is ppm on non-negative operands; an
    * edgeless community (vol 0) pins to 1e6 by convention on both
    * engines.
    *
    * Scale: two joins of the edge list against the O(types) label
    * frame (broadcastable), one groupBy per side — the corpus-sized
    * work is already behind [[transitionEdgesSym]]'s word-count
    * shuffle. The propagation labels are recomputed declaratively,
    * not collected. */
  def conductance(s: SparkSession, dir: String): DataFrame = {
    val edges = transitionEdgesSym(s, dir)
    val labels = labelPropagation(s, dir)
    val e = edges
      .join(broadcast(labels.select(col("node").as("src"),
        col("lab").as("lab_s"))), "src")
      .join(broadcast(labels.select(col("node").as("dst"),
        col("lab").as("lab_d"))), "dst")
    val volCut = e.groupBy(col("lab_s").as("lab"))
      .agg(sum(col("w")).as("vol"),
        sum(when(col("lab_s") =!= col("lab_d"), col("w"))
          .otherwise(0L)).as("cut"))
    val total = e.agg(sum(col("w")).as("m2"))
    labels.groupBy(col("lab")).agg(count(lit(1)).as("n_nodes"))
      .join(broadcast(volCut), Seq("lab"), "left")
      .na.fill(0L, Seq("vol", "cut"))
      .crossJoin(broadcast(total))
      .select(col("lab"), col("n_nodes"), col("vol"), col("cut"),
        expr("CASE WHEN least(vol, m2 - vol) = 0 THEN 1000000L " +
          "ELSE cut * 1000000L div least(vol, m2 - vol) END")
          .as("cond_ppm"))
      .orderBy(col("lab"))
  }

  val conductanceSql: String =
    labelPropBody(4) +
      """,
        |labeled AS (
        |  SELECT e.src, e.dst, e.w, ls.lab AS lab_s, ld.lab AS lab_d
        |  FROM edges e
        |  JOIN it4 ls ON ls.node = e.src
        |  JOIN it4 ld ON ld.node = e.dst),
        |vol_cut AS (
        |  SELECT lab_s AS lab, CAST(SUM(w) AS BIGINT) AS vol,
        |    CAST(SUM(CASE WHEN lab_s <> lab_d THEN w ELSE 0 END)
        |      AS BIGINT) AS cut
        |  FROM labeled GROUP BY lab_s),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM labeled),
        |sizes AS (
        |  SELECT lab, COUNT(*) AS n_nodes FROM it4 GROUP BY lab)
        |SELECT s.lab, s.n_nodes, COALESCE(v.vol, 0) AS vol,
        |  COALESCE(v.cut, 0) AS cut,
        |  CAST(CASE WHEN least(COALESCE(v.vol, 0),
        |      m2 - COALESCE(v.vol, 0)) = 0 THEN 1000000
        |    ELSE COALESCE(v.cut, 0) * 1000000 //
        |      least(COALESCE(v.vol, 0), m2 - COALESCE(v.vol, 0))
        |    END AS BIGINT) AS cond_ppm
        |FROM sizes s LEFT JOIN vol_cut v ON s.lab = v.lab, tot
        |ORDER BY s.lab""".stripMargin

  /** Common-neighbor link prediction: for every NON-adjacent pair
    * with ≥1 shared neighbor, the neighbor-set Jaccard
    * `|N(u)∩N(v)| / (deg(u)+deg(v)−|N(u)∩N(v)|)` — the classic
    * who-to-connect score (friend-of-friend recommendation, knn-graph
    * densification for [[Similarity]] clustering). Candidates come
    * from a WEDGE join (two hops through a shared neighbor), so the
    * pair space is Σ deg² — never nodes², and the same plan shape as
    * [[triangleCounts]]; the direct-edge anti-join removes existing
    * links. Integer counts all the way; the Jaccard is ONE double
    * division, emitted alongside its exact numerator/denominator.
    *
    * Scale: degrees are a map-combined count; the wedge join and the
    * anti-join are equi hash joins on node ids (the wedge hub is the
    * join key, so hub skew responds to the standard salting); top-k
    * is TakeOrderedAndProject. */
  def linkPredict(edges: DataFrame, k: Int = 30): DataFrame = {
    val sym = edges.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(edges.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct()
    val deg = sym.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
    val cand = sym.toDF("n", "a").join(sym.toDF("n", "b"), "n")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
      .join(sym.toDF("a", "b"), Seq("a", "b"), "left_anti")
    cand
      .join(deg.toDF("a", "da"), "a")
      .join(deg.toDF("b", "db"), "b")
      .select(col("a"), col("b"), col("cn"),
        (col("da") + col("db") - col("cn")).as("un"),
        (col("cn").cast("double") /
          (col("da") + col("db") - col("cn")).cast("double"))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Gate: chains of 8 (edges i—i+1) plus skip links i—i+2 from even
    * offsets — the odd-offset (i, i+2) pairs share exactly one
    * neighbor without being adjacent, and longer-range pairs arise
    * through the skips, so the candidate set exercises both the
    * wedge join and the direct-edge anti-join. Deterministic integer
    * construction both engines rebuild exactly. */
  def linkPredictGate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id")).filter(col("doc_id") < 128)
    val chain = d.toDF("id_a")
      .join(d.toDF("id_b"), col("id_b") === col("id_a") + 1)
      .filter(col("id_a") % 8 =!= 7)
    val skip = d.toDF("id_a")
      .join(d.toDF("id_b"), col("id_b") === col("id_a") + 2)
      .filter(col("id_a") % 2 === 0 && col("id_a") % 8 < 6)
    linkPredict(chain.union(skip))
  }

  val linkPredictSql: String =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 128),
      |edges AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
      |  WHERE a.doc_id % 8 <> 7
      |  UNION ALL
      |  SELECT a.doc_id, b.doc_id
      |  FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 2
      |  WHERE a.doc_id % 2 = 0 AND a.doc_id % 8 < 6),
      |sym AS (
      |  SELECT DISTINCT u, v FROM (
      |    SELECT id_a AS u, id_b AS v FROM edges
      |    UNION ALL SELECT id_b, id_a FROM edges)),
      |deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY u),
      |cand AS (
      |  SELECT s1.v AS a, s2.v AS b, COUNT(*) AS cn
      |  FROM sym s1 JOIN sym s2 ON s1.u = s2.u
      |  WHERE s1.v < s2.v
      |  GROUP BY s1.v, s2.v),
      |nonadj AS (
      |  SELECT c.* FROM cand c
      |  WHERE NOT EXISTS (SELECT 1 FROM sym
      |    WHERE sym.u = c.a AND sym.v = c.b))
      |SELECT a, b, cn,
      |  CAST(da.deg + db.deg - cn AS BIGINT) AS un,
      |  CAST(cn AS DOUBLE)
      |    / CAST(da.deg + db.deg - cn AS DOUBLE) AS jaccard
      |FROM nonadj
      |JOIN deg da ON da.node = a
      |JOIN deg db ON db.node = b
      |ORDER BY jaccard DESC, a, b
      |LIMIT 30""".stripMargin

  /** Single-source shortest paths by distributed Bellman–Ford over
    * the event-transition graph: edge cost is the integer
    * `1000000 div w` (frequent transitions are cheap, so the shortest
    * path IS the most-traveled route — the "likely user journey"
    * query), source is the lexicographically smallest event type.
    *
    * Per relaxation round: the distributed edge list joins the
    * O(nodes) distance vector (broadcast here; the shuffle-join
    * fallback pinned for [[pageRank]] applies unchanged when the node
    * set outgrows a broadcast), candidates reduce map-side with a
    * `min` per destination, and the new vector is the element-wise
    * min with the previous round. |V|−1 rounds guarantee
    * convergence; event graphs have a handful of types so `iters`
    * defaults to 8 — and because the oracle replays the SAME
    * truncated recurrence (it would hash green even on non-final
    * distances), a post-loop relaxation ASSERTS the fixpoint was
    * reached: if a wider graph ever needs more rounds, the gate
    * fails loudly instead of certifying non-shortest paths. The
    * check is one extra join over the O(nodes) vector — metadata.
    * Distances stay scaled longs (INF = 10¹⁵ sentinel
    * for unreachable) — every update is integer min/add, bit-exact,
    * so the unrolled-CTE oracle replays the identical recurrence. */
  private val Inf = 1000000000000000L

  def sssp(s: SparkSession, dir: String, iters: Int = 8): DataFrame = {
    val ev = Tables.events(s, dir)
    val edges = weightedTransitions(ev)
      .select(col("src"), col("dst"), expr("1000000 div w").as("cost"))
      .localCheckpoint()
    val nodes = ev.select(col("event_type").as("node"))
      .distinct().localCheckpoint()
    val source = nodes.agg(min(col("node"))).head().getString(0)
    var dist = nodes.withColumn("d",
      when(col("node") === source, 0L).otherwise(lit(Inf)))
    for (_ <- 1 to iters) {
      val relaxed = edges
        .join(broadcast(dist.withColumnRenamed("node", "src")), "src")
        .filter(col("d") < Inf)
        .select(col("dst").as("node"), (col("d") + col("cost")).as("cand"))
        .groupBy(col("node")).agg(min(col("cand")).as("cand"))
      dist = dist.join(broadcast(relaxed), Seq("node"), "left")
        .select(col("node"),
          least(col("d"), coalesce(col("cand"), lit(Inf))).as("d"))
        .localCheckpoint()
    }
    // Fixpoint assertion: one further relaxation must improve nothing.
    val improvable = edges
      .join(broadcast(dist.withColumnRenamed("node", "src")), "src")
      .filter(col("d") < Inf)
      .select(col("dst").as("node"), (col("d") + col("cost")).as("cand"))
      .join(dist, "node")
      .filter(col("cand") < col("d"))
      .count()
    require(improvable == 0L,
      s"sssp: $iters Bellman-Ford rounds did not converge " +
      s"($improvable distances still improvable) — raise iters on " +
      "BOTH the engine and the unrolled oracle")
    dist.orderBy(col("node"))
  }

  /** The identical integer recurrence unrolled (standard SQL forbids
    * the per-round min-aggregation inside a recursive term). */
  def ssspSql(iters: Int = 8): String = {
    val base =
      s"""WITH $OrdSql,
         |edges AS (SELECT src, dst, 1000000 // COUNT(*) AS cost
         |          FROM ord WHERE dst IS NOT NULL GROUP BY src, dst),
         |nodes AS (SELECT DISTINCT event_type AS node FROM events),
         |src0 AS (SELECT MIN(node) AS sn FROM nodes),
         |it0 AS (SELECT node, CASE WHEN node = (SELECT sn FROM src0)
         |  THEN 0 ELSE 1000000000000000 END AS d FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""it$i AS (
         |  SELECT n.node,
         |    LEAST(p.d, COALESCE(r.cand, 1000000000000000)) AS d
         |  FROM nodes n
         |  JOIN it${i - 1} p ON p.node = n.node
         |  LEFT JOIN (
         |    SELECT e.dst AS node, MIN(q.d + e.cost) AS cand
         |    FROM edges e JOIN it${i - 1} q ON q.node = e.src
         |    WHERE q.d < 1000000000000000
         |    GROUP BY e.dst) r ON r.node = n.node)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(d AS BIGINT) AS d FROM it$iters ORDER BY node"
  }

  /** HITS hubs & authorities (Kleinberg 1999) over the weighted
    * event-transition graph — the mutually-recursive complement of
    * [[pageRank]]'s single fixpoint: a node is a good authority when
    * good hubs point at it, a good hub when it points at good
    * authorities. Each half-round is one distributed edge×broadcast-
    * vector join with a map-combinable sum, exactly the
    * [[rankStep]] discipline (the shuffle-join fallback applies
    * unchanged when the node set outgrows a broadcast).
    *
    * Normalization — HITS diverges without it — is integer: each new
    * vector rescales to `x·10⁶ div max(x)` with the max joined in as
    * a broadcast scalar row, so every round stays inside exact long
    * arithmetic and the unrolled-CTE oracle replays it term for
    * term. */
  def hits(s: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    val ev = Tables.events(s, dir)
    val edges = weightedTransitions(ev).localCheckpoint()
    val nodes = ev.select(col("event_type").as("node"))
      .distinct().localCheckpoint()
    var h = nodes.withColumn("h", lit(1000000L))
    var a = nodes.withColumn("a", lit(0L))
    for (_ <- 1 to iters) {
      val aRaw = edges
        .join(broadcast(h.toDF("src", "h")), "src")
        .select(col("dst").as("node"), (col("w") * col("h")).as("x"))
        .groupBy(col("node")).agg(sum(col("x")).as("x"))
      a = nodes.join(broadcast(aRaw), Seq("node"), "left")
        .crossJoin(broadcast(aRaw.agg(max(col("x")).as("mx"))))
        .select(col("node"),
          coalesce(expr("(x * 1000000) div mx"), lit(0L)).as("a"))
        .localCheckpoint()
      val hRaw = edges
        .join(broadcast(a.toDF("dst", "a")), "dst")
        .select(col("src").as("node"), (col("w") * col("a")).as("x"))
        .groupBy(col("node")).agg(sum(col("x")).as("x"))
      h = nodes.join(broadcast(hRaw), Seq("node"), "left")
        .crossJoin(broadcast(hRaw.agg(max(col("x")).as("mx"))))
        .select(col("node"),
          coalesce(expr("(x * 1000000) div mx"), lit(0L)).as("h"))
        .localCheckpoint()
    }
    h.toDF("node", "hub").join(a.toDF("node", "auth"), "node")
      .orderBy(col("node"))
  }

  /** The identical integer recurrence unrolled. */
  def hitsSql(iters: Int = 5): String = {
    val base =
      s"""WITH $OrdSql,
         |$EdgesSql,
         |nodes AS (SELECT DISTINCT event_type AS node FROM events),
         |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes)"""
        .stripMargin
    val its = (1 to iters).map { i =>
      s"""araw$i AS MATERIALIZED (
         |  SELECT e.dst AS node, SUM(e.w * p.h) AS x
         |  FROM edges e JOIN h${i - 1} p ON p.node = e.src
         |  GROUP BY e.dst),
         |a$i AS MATERIALIZED (
         |  SELECT n.node, COALESCE(
         |    (r.x * 1000000) // (SELECT MAX(x) FROM araw$i), 0) AS a
         |  FROM nodes n LEFT JOIN araw$i r ON r.node = n.node),
         |hraw$i AS MATERIALIZED (
         |  SELECT e.src AS node, SUM(e.w * p.a) AS x
         |  FROM edges e JOIN a$i p ON p.node = e.dst
         |  GROUP BY e.src),
         |h$i AS MATERIALIZED (
         |  SELECT n.node, COALESCE(
         |    (r.x * 1000000) // (SELECT MAX(x) FROM hraw$i), 0) AS h
         |  FROM nodes n LEFT JOIN hraw$i r ON r.node = n.node)"""
        .stripMargin
    }
    (base +: its).mkString(",\n") +
      s"""
         |SELECT h.node, CAST(h.h AS BIGINT) AS hub,
         |  CAST(a.a AS BIGINT) AS auth
         |FROM h$iters h JOIN a$iters a ON a.node = h.node
         |ORDER BY h.node""".stripMargin
  }

  /** Per-node degree statistics + reciprocity — the first-look graph
    * profile (in/out degree, weighted degree, and how much of a
    * node's out-weight flows along edges whose REVERSE edge also
    * exists — the mutual-engagement signal). Reciprocity joins the
    * edge list to itself on the swapped key — an equi hash join on
    * (src, dst), never a cross join; degrees are one map-combinable
    * aggregate each. Integer ppm for the ratio. */
  def degreeStats(s: SparkSession, dir: String): DataFrame = {
    val edges = weightedTransitions(Tables.events(s, dir))
      .localCheckpoint()
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      lit(1).as("has_rev"))
    val outd = edges.join(rev, Seq("src", "dst"), "left")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("out_deg"), sum(col("w")).as("out_w"),
        sum(when(col("has_rev").isNotNull, col("w")).otherwise(0L))
          .as("recip_w"))
    val ind = edges.groupBy(col("dst"))
      .agg(count(lit(1)).as("in_deg"), sum(col("w")).as("in_w"))
    outd.join(ind, col("src") === col("dst"), "full_outer")
      .select(coalesce(col("src"), col("dst")).as("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("in_w"), lit(0L)).as("in_w"),
        coalesce(expr("(recip_w * 1000000) div out_w"), lit(0L))
          .as("recip_ppm"))
      .orderBy(col("node"))
  }

  val degreeStatsSql: String =
    s"""WITH $OrdSql,
       |$EdgesSql,
       |outd AS (
       |  SELECT e.src, COUNT(*) AS out_deg,
       |    CAST(SUM(e.w) AS BIGINT) AS out_w,
       |    CAST(SUM(CASE WHEN r.src IS NOT NULL THEN e.w ELSE 0 END)
       |      AS BIGINT) AS recip_w
       |  FROM edges e LEFT JOIN edges r
       |    ON r.src = e.dst AND r.dst = e.src
       |  GROUP BY e.src),
       |ind AS (SELECT dst, COUNT(*) AS in_deg,
       |          CAST(SUM(w) AS BIGINT) AS in_w
       |        FROM edges GROUP BY dst)
       |SELECT COALESCE(o.src, i.dst) AS node,
       |  COALESCE(o.out_deg, 0) AS out_deg,
       |  COALESCE(o.out_w, 0) AS out_w,
       |  COALESCE(i.in_deg, 0) AS in_deg,
       |  COALESCE(i.in_w, 0) AS in_w,
       |  COALESCE((o.recip_w * 1000000) // o.out_w, 0) AS recip_ppm
       |FROM outd o FULL OUTER JOIN ind i ON i.dst = o.src
       |ORDER BY node""".stripMargin

  /** Directed modularity of the [[labelPropagation]] communities —
    * the quality score that turns "LPA emitted labels" into "LPA
    * found STRUCTURE": per community c,
    * `Q_c = e_c/m − (out_c·in_c)/m²` (Leicht–Newman directed form),
    * where e_c is the internal directed edge weight and out/in the
    * community degree sums. Emitted as exact BIGINTs plus Q_c as a
    * 1e-9-snapped long from ONE fixed-shape double expression — the
    * Mining-lift discipline, so per-community terms subtract exactly
    * and the corpus-level Q is the integer sum of the rows.
    *
    * Scale: the label vector and every per-community aggregate are
    * O(nodes)/O(communities); only the transition-edge derivation
    * (shared with every other graph op) touches the corpus. */
  def modularity(s: SparkSession, dir: String,
      iters: Int = 4): DataFrame = {
    val dedges = transitionPairs(Tables.events(s, dir))
      .filter(col("dst") =!= col("src"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .localCheckpoint()
    val labels = labelPropagation(s, dir, iters).localCheckpoint()
    val m = dedges.agg(sum(col("w")).cast("long").as("m"))
    val e = dedges
      .join(broadcast(labels.toDF("src", "la")), "src")
      .join(broadcast(labels.toDF("dst", "lb")), "dst")
    val ein = e.filter(col("la") === col("lb"))
      .groupBy(col("la").as("lab"))
      .agg(sum(col("w")).cast("long").as("e_in"))
    val od = e.groupBy(col("la").as("lab"))
      .agg(sum(col("w")).cast("long").as("wout"))
    val id = e.groupBy(col("lb").as("lab"))
      .agg(sum(col("w")).cast("long").as("win"))
    val com = labels.select(col("lab")).distinct()
    com
      .crossJoin(broadcast(m))
      .join(broadcast(ein), Seq("lab"), "left")
      .join(broadcast(od), Seq("lab"), "left")
      .join(broadcast(id), Seq("lab"), "left")
      .select(col("lab"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        coalesce(col("wout"), lit(0L)).as("wout"),
        coalesce(col("win"), lit(0L)).as("win"),
        floor((coalesce(col("e_in"), lit(0L)).cast("double")
            / col("m").cast("double")
          - (coalesce(col("wout"), lit(0L)).cast("double")
              * coalesce(col("win"), lit(0L)).cast("double"))
            / (col("m").cast("double") * col("m").cast("double")))
          * 1000000000.0 + 0.5).cast("long").as("q_e9"))
      .orderBy(col("lab"))
  }

  def modularitySql(iters: Int = 4): String =
    s"""WITH lp AS (SELECT * FROM (${labelPropagationSql(iters)})),
       |$OrdSql,
       |dd AS (SELECT src, dst, COUNT(*) AS w FROM ord
       |       WHERE dst IS NOT NULL AND dst <> src
       |       GROUP BY src, dst),
       |mm AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM dd),
       |ee AS (
       |  SELECT d.src, d.dst, d.w, a.lab AS la, b.lab AS lb
       |  FROM dd d JOIN lp a ON a.node = d.src
       |  JOIN lp b ON b.node = d.dst),
       |ein AS (SELECT la AS lab, CAST(SUM(w) AS BIGINT) AS e_in
       |        FROM ee WHERE la = lb GROUP BY la),
       |od AS (SELECT la AS lab, CAST(SUM(w) AS BIGINT) AS wout
       |       FROM ee GROUP BY la),
       |ideg AS (SELECT lb AS lab, CAST(SUM(w) AS BIGINT) AS win
       |         FROM ee GROUP BY lb),
       |com AS (SELECT DISTINCT lab FROM lp)
       |SELECT c.lab,
       |  CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in,
       |  CAST(COALESCE(od.wout, 0) AS BIGINT) AS wout,
       |  CAST(COALESCE(ideg.win, 0) AS BIGINT) AS win,
       |  CAST(floor((CAST(COALESCE(ein.e_in, 0) AS DOUBLE)
       |      / CAST(mm.m AS DOUBLE)
       |    - (CAST(COALESCE(od.wout, 0) AS DOUBLE)
       |        * CAST(COALESCE(ideg.win, 0) AS DOUBLE))
       |      / (CAST(mm.m AS DOUBLE) * CAST(mm.m AS DOUBLE)))
       |    * 1000000000.0 + 0.5) AS BIGINT) AS q_e9
       |FROM com c CROSS JOIN mm
       |LEFT JOIN ein ON ein.lab = c.lab
       |LEFT JOIN od ON od.lab = c.lab
       |LEFT JOIN ideg ON ideg.lab = c.lab
       |ORDER BY c.lab""".stripMargin

  /** Closeness centrality by multi-source BFS — the distance-based
    * member of the centrality family (degree/PageRank/HITS cover
    * volume and eigen-structure; closeness asks "how FEW hops to
    * everything?"). Distances live as a SPARSE reached-pair frame
    * (s, node, d): each round expands the frontier one hop through
    * the edge list and a grouped min dedupes — at O(nodes²) pairs
    * worst case, which is the all-pairs premise of closeness itself.
    * Per source: `closeness_ppm = reached·10⁶ div Σd` (integer,
    * non-negative — floor/truncate agree). A post-loop relaxation
    * ASSERTS the BFS fixpoint (the [[sssp]] discipline), so
    * truncated-round output can never hash green.
    *
    * Scale: the transition-edge derivation is the only corpus pass;
    * rounds shuffle O(reached pairs). For node sets where all-pairs
    * is meaningless, the standard swap is sampled-source closeness —
    * the same loop seeded with a hash-sampled source frame. */
  /** All-pairs BFS distances over the event-type transition graph —
    * the shared front end of [[closeness]] and [[harmonic]]: per
    * source, min-hop distance to every reachable node, with the
    * post-loop fixpoint assertion (no pair still improvable). */
  private def typeGraphDistances(s: SparkSession, dir: String,
      iters: Int): DataFrame = {
    val ev = Tables.events(s, dir)
    val edges = transitionPairs(ev).filter(col("dst") =!= col("src"))
      .distinct().localCheckpoint()
    val nodes = ev.select(col("event_type").as("node"))
      .distinct().localCheckpoint()
    var dist = nodes.select(col("node").as("s"), col("node"),
      lit(0L).as("d"))
    for (_ <- 1 to iters) {
      val cand = dist
        .join(edges.withColumnRenamed("src", "node"), "node")
        .select(col("s"), col("dst").as("node"), (col("d") + 1L).as("d"))
      dist = dist.unionByName(cand)
        .groupBy(col("s"), col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint()
    }
    val more = dist
      .join(edges.withColumnRenamed("src", "node"), "node")
      .select(col("s"), col("dst").as("node"), (col("d") + 1L).as("cand"))
      .join(dist.withColumnRenamed("d", "cur"), Seq("s", "node"), "left")
      .filter(col("cur").isNull || col("cand") < col("cur"))
      .count()
    require(more == 0L,
      s"type-graph BFS: $iters rounds did not reach the fixpoint " +
      s"($more pairs still improvable) — raise iters on BOTH the " +
      "engine and the unrolled oracle")
    dist
  }

  def closeness(s: SparkSession, dir: String, iters: Int = 6): DataFrame = {
    val dist = typeGraphDistances(s, dir, iters)
    dist.groupBy(col("s").as("node"))
      .agg((count(lit(1)) - 1L).as("n_reach"),
        sum(col("d")).as("sum_d"))
      .select(col("node"), col("n_reach"), col("sum_d"),
        when(col("sum_d") > 0,
          expr("(n_reach * 1000000L) div sum_d"))
          .otherwise(lit(0L)).as("closeness_ppm"))
      .orderBy(col("node"))
  }

  /** Harmonic centrality — Σ 1/d(s, t) over reached nodes, the
    * disconnected-graph-correct sibling of [[closeness]] (unreached
    * nodes contribute 0 instead of poisoning a mean): per term
    * `10⁶ div d` floored BEFORE the integer sum (the snapped-term
    * convention), so the score is an exact BIGINT. Same BFS front
    * end, same fixpoint assertion; one aggregate over the distance
    * table. */
  def harmonic(s: SparkSession, dir: String, iters: Int = 6): DataFrame = {
    val dist = typeGraphDistances(s, dir, iters)
    dist.filter(col("d") > 0)
      .groupBy(col("s").as("node"))
      .agg(count(lit(1)).as("n_reach"),
        sum(expr("1000000 div d")).as("harmonic_e6"))
      .orderBy(col("node"))
  }

  def harmonicSql(iters: Int = 6): String =
    transitionBfsSql(iters) +
      s"""
         |SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS n_reach,
         |  CAST(SUM(1000000 // d) AS BIGINT) AS harmonic_e6
         |FROM it$iters WHERE d > 0 GROUP BY s ORDER BY node""".stripMargin

  def closenessSql(iters: Int = 6): String = {
    transitionBfsSql(iters) +
      s"""
         |SELECT s AS node,
         |  COUNT(*) - 1 AS n_reach,
         |  CAST(SUM(d) AS BIGINT) AS sum_d,
         |  CASE WHEN CAST(SUM(d) AS BIGINT) > 0
         |    THEN ((COUNT(*) - 1) * 1000000)
         |      // CAST(SUM(d) AS BIGINT)
         |    ELSE 0 END AS closeness_ppm
         |FROM it$iters GROUP BY s ORDER BY node""".stripMargin
  }

  /** Exact betweenness centrality — Brandes restated as JOINS over
    * two all-pairs tables instead of per-source dependency
    * accumulation (which is inherently sequential): (1) BFS
    * distances d(s,v) as the [[closeness]] sparse reached-pair
    * rounds; (2) shortest-path COUNTS σ(s,v) by the layered
    * recurrence `σ(s,v) = Σ_{u→v, d(s,u)+1 = d(s,v)} σ(s,u)`
    * (σ(s,s) = 1), which is correct for all nodes within `iters`
    * hops and ASSERTED at fixpoint; (3)
    * `B(v) = Σ_{s≠v≠t} σ(s,v)·σ(v,t)/σ(s,t) · [d(s,v)+d(v,t)=d(s,t)]`
    * as one triple join over those tables, each (s,v,t) contribution
    * snapped to a 1e-9 long BEFORE the per-v integer sum (no float
    * accumulates across rows).
    *
    * Scale: tables are O(reached pairs) — the all-pairs premise of
    * exact betweenness; at corpus-scale node sets the standard swap
    * is source-sampled betweenness (seed the same rounds with a
    * hash-sampled source frame), identical plan shape. */
  def betweenness(s: SparkSession, dir: String,
      iters: Int = 6): DataFrame = {
    val ev = Tables.events(s, dir)
    val edges = transitionPairs(ev).filter(col("dst") =!= col("src"))
      .distinct().localCheckpoint()
    val nodes = ev.select(col("event_type").as("node"))
      .distinct().localCheckpoint()
    var dist = nodes.select(col("node").as("s"), col("node"),
      lit(0L).as("d"))
    for (_ <- 1 to iters) {
      // Per-round checkpoint deliberately kept: a 2-rounds-per-
      // checkpoint cadence was MEASURED this round at +1.1 s on this
      // gate (the in-between round's self-union re-executes its
      // subtree; exchange reuse does not cover it).
      dist = dist.unionByName(dist
          .join(edges.withColumnRenamed("src", "node"), "node")
          .select(col("s"), col("dst").as("node"),
            (col("d") + 1L).as("d")))
        .groupBy(col("s"), col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint()
    }
    def sigmaStep(prev: DataFrame): DataFrame =
      dist.filter(col("d") === 0L)
        .select(col("s"), col("node"), lit(1L).as("sig"))
        .unionByName(prev
          .join(edges.withColumnRenamed("src", "node"), "node")
          .select(col("s"), col("dst").as("node"), col("sig"),
            (col("d") + 1L).as("dn"))
          .join(dist.withColumnRenamed("d", "dv"), Seq("s", "node"))
          .filter(col("dn") === col("dv"))
          .select(col("s"), col("node"), col("sig")))
        .groupBy(col("s"), col("node"))
        .agg(sum(col("sig")).as("sig"))
        .join(dist, Seq("s", "node"))
        .select(col("s"), col("node"), col("sig"), col("d"))
    var sigma = dist.filter(col("d") === 0L)
      .select(col("s"), col("node"), lit(1L).as("sig"), col("d"))
      .localCheckpoint()
    for (_ <- 1 to iters) sigma = sigmaStep(sigma).localCheckpoint()
    val changed = sigmaStep(sigma)
      .withColumnRenamed("sig", "sig2")
      .join(sigma, Seq("s", "node"), "full_outer")
      .filter(col("sig").isNull || col("sig2").isNull ||
        col("sig") =!= col("sig2"))
      .count()
    require(changed == 0L,
      s"betweenness: $iters rounds did not reach the sigma fixpoint " +
      s"($changed entries still changing) — raise iters on BOTH the " +
      "engine and the unrolled oracle")
    val p = sigma.select(col("s"), col("node"), col("sig"), col("d"))
    val contrib = p.toDF("s", "v", "sig_sv", "d_sv")
      .join(p.toDF("v", "t", "sig_vt", "d_vt"), "v")
      .join(p.toDF("s", "t", "sig_st", "d_st"), Seq("s", "t"))
      .filter(col("s") =!= col("v") && col("t") =!= col("v") &&
        col("s") =!= col("t") &&
        col("d_sv") + col("d_vt") === col("d_st"))
      .select(col("v").as("node"),
        floor((col("sig_sv") * col("sig_vt")).cast("double")
          * 1000000000.0 / col("sig_st").cast("double") + 0.5)
          .cast("long").as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("betweenness_e9"))
    nodes.join(contrib, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("betweenness_e9"), lit(0L)).as("betweenness_e9"))
      .orderBy(col("node"))
  }

  def betweennessSql(iters: Int = 6): String = {
    val base =
      s"""WITH $OrdSql,
         |edges AS (SELECT DISTINCT src, dst FROM ord
         |          WHERE dst IS NOT NULL AND dst <> src),
         |nodes AS (SELECT DISTINCT event_type AS node FROM events),
         |dt0 AS (SELECT node AS s, node, CAST(0 AS BIGINT) AS d
         |        FROM nodes)""".stripMargin
    val dSteps = (1 to iters).map { i =>
      s"""dt$i AS MATERIALIZED (
         |  SELECT s, node, MIN(d) AS d FROM (
         |    SELECT s, node, d FROM dt${i - 1}
         |    UNION ALL
         |    SELECT q.s, e.dst AS node, q.d + 1 AS d
         |    FROM dt${i - 1} q JOIN edges e ON e.src = q.node)
         |  GROUP BY s, node)""".stripMargin
    }
    val distFinal =
      s"""dist AS (SELECT s, node, CAST(d AS BIGINT) AS d
         |         FROM dt$iters),
         |sg0 AS (SELECT s, node, CAST(1 AS BIGINT) AS sig, d
         |        FROM dist WHERE d = 0)""".stripMargin
    val sSteps = (1 to iters).map { i =>
      s"""sg$i AS MATERIALIZED (
         |  SELECT g.s, g.node, CAST(SUM(g.sig) AS BIGINT) AS sig,
         |    MIN(g.d) AS d
         |  FROM (
         |    SELECT s, node, CAST(1 AS BIGINT) AS sig, d
         |    FROM dist WHERE d = 0
         |    UNION ALL
         |    SELECT q.s, e.dst AS node, q.sig,
         |      dv.d AS d
         |    FROM sg${i - 1} q
         |    JOIN edges e ON e.src = q.node
         |    JOIN dist dv ON dv.s = q.s AND dv.node = e.dst
         |    WHERE q.d + 1 = dv.d) g
         |  GROUP BY g.s, g.node)""".stripMargin
    }
    (Seq(base) ++ dSteps ++ Seq(distFinal) ++ sSteps).mkString(",\n") +
      s"""
         |SELECT n.node,
         |  CAST(COALESCE(b.betweenness_e9, 0) AS BIGINT)
         |    AS betweenness_e9
         |FROM nodes n LEFT JOIN (
         |  SELECT psv.node,
         |    CAST(SUM(CAST(floor(
         |      CAST(psv.sig * pvt.sig AS DOUBLE) * 1000000000.0
         |        / CAST(pst.sig AS DOUBLE) + 0.5) AS BIGINT))
         |      AS BIGINT) AS betweenness_e9
         |  FROM (SELECT s, node, sig, d FROM sg$iters) psv
         |  JOIN (SELECT s AS v2, node AS t, sig, d FROM sg$iters) pvt
         |    ON pvt.v2 = psv.node
         |  JOIN (SELECT s, node AS t, sig, d FROM sg$iters) pst
         |    ON pst.s = psv.s AND pst.t = pvt.t
         |  WHERE psv.s <> psv.node AND pvt.t <> psv.node
         |    AND psv.s <> pvt.t
         |    AND psv.d + pvt.d = pst.d
         |  GROUP BY psv.node) b ON b.node = n.node
         |ORDER BY n.node""".stripMargin
  }

  /** Personalized PageRank — [[pageRank]] with the teleport mass
    * aimed at ONE seed (the lexicographically smallest event type)
    * instead of spread uniformly: the "random walk with restart"
    * relevance of every node TO that seed, the standard
    * recommendation / local-relevance primitive the global rank
    * can't express. Same 10¹²-scaled integer recurrence (every
    * update is `div`-exact on non-negatives, so the unrolled-CTE
    * oracle replays it bit for bit); only the restart term differs:
    * `r' = 0.15·10¹²·[node = seed] + 0.85·inflow`.
    *
    * Scale: identical plan shape to [[pageRank]] broadcast mode, and
    * the shuffle-join fallback pinned there applies unchanged when
    * the node set outgrows a broadcast. */
  def ppr(s: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    val ev = Tables.events(s, dir)
    val edges = weightedTransitions(ev).localCheckpoint()
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      .localCheckpoint()
    val nodes = ev.select(col("event_type").as("node"))
      .distinct().localCheckpoint()
    val seed = nodes.agg(min(col("node"))).head().getString(0)
    val teleport = when(col("node") === seed, lit(One * 15 / 100))
      .otherwise(lit(0L))
    var ranks = nodes.withColumn("r",
      when(col("node") === seed, lit(One)).otherwise(lit(0L)))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(broadcast(outw), "src")
        .join(broadcast(ranks.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), expr("(r * w) div ow").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("c"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (teleport + coalesce(expr("(85 * c) div 100"), lit(0L)))
            .as("r"))
        .localCheckpoint()
    }
    ranks.orderBy(col("node"))
  }

  def pprSql(iters: Int = 5): String = {
    val base =
      s"""WITH $OrdSql,
         |$EdgesSql,
         |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT event_type AS node FROM events),
         |sd AS (SELECT MIN(node) AS seed FROM nodes),
         |it0 AS (SELECT node,
         |  CASE WHEN node = (SELECT seed FROM sd)
         |    THEN 1000000000000 ELSE 0 END AS r
         |  FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""it$i AS (
         |  SELECT nd.node,
         |    CASE WHEN nd.node = (SELECT seed FROM sd)
         |      THEN 150000000000 ELSE 0 END
         |      + COALESCE((85 * s.c) // 100, 0) AS r
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, SUM((p.r * e.w) // o.ow) AS c
         |    FROM edges e
         |    JOIN it${i - 1} p ON p.node = e.src
         |    JOIN outw o ON o.src = e.src
         |    GROUP BY e.dst) s ON s.node = nd.node)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(r AS BIGINT) AS r FROM it$iters ORDER BY node"
  }

  /** Deterministic random-walk corpus — the node2vec/DeepWalk
    * PRE-STEP: `walks`-per-node fixed-length walks over the
    * transition graph, emitted as token strings ready for the
    * skip-gram/embedding pipeline. "Random" is a seeded portable
    * mix, not an RNG: step t of walk w at node v picks out-neighbor
    * rank `(w·2654435761 + t·2246822519 + ascii(first char)·97 +
    * length(v)·31) mod outdeg(v)` over the node's SORTED neighbor
    * list — bit-reproducible across runs, engines, and cluster
    * sizes, which is what makes walk corpora regenerable instead of
    * stored. Dead ends absorb (walk stays put).
    *
    * Scale: neighbor ranks are one row_number over the edge list
    * partitioned by src; each step is one equi-join of the O(nodes·
    * walks) frontier against the ranked edges — never quadratic. */
  def walks(s: SparkSession, dir: String, nWalks: Int = 2,
      steps: Int = 4): DataFrame = {
    val ev = Tables.events(s, dir)
    val ranked = transitionPairs(ev).filter(col("dst") =!= col("src"))
      .distinct()
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
      .withColumn("deg", count(lit(1)).over(
        Window.partitionBy(col("src"))))
      .localCheckpoint()
    val nodes = ev.select(col("event_type").as("node")).distinct()
    var cur = nodes
      .withColumn("walk_id", explode(sequence(lit(0), lit(nWalks - 1))))
      .select(col("node").as("start"), col("walk_id"),
        col("node").as("pos"), col("node").as("path"))
    def pick(step: Int) = expr(
      s"(walk_id * 2654435761L + ${step}L * 2246822519L" +
      " + ascii(substring(pos, 1, 1)) * 97L" +
      " + length(pos) * 31L) % deg")
    for (t <- 1 to steps) {
      cur = cur
        .join(ranked.withColumnRenamed("src", "pos"), Seq("pos"), "left")
        .filter(col("deg").isNull || col("rk") === pick(t))
        .select(col("start"), col("walk_id"),
          coalesce(col("dst"), col("pos")).as("pos"),
          concat(col("path"), lit(" "),
            coalesce(col("dst"), col("pos"))).as("path"))
        .localCheckpoint()
    }
    cur.select(col("start"), col("walk_id").cast("long").as("walk_id"),
        col("path"))
      .orderBy(col("start"), col("walk_id"))
  }

  def walksSql(nWalks: Int = 2, steps: Int = 4): String = {
    val base =
      s"""WITH $OrdSql,
         |edges AS (SELECT DISTINCT src, dst FROM ord
         |          WHERE dst IS NOT NULL AND dst <> src),
         |ranked AS (
         |  SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1
         |      AS rk,
         |    COUNT(*) OVER (PARTITION BY src) AS deg
         |  FROM edges),
         |nodes AS (SELECT DISTINCT event_type AS node FROM events),
         |w0 AS (
         |  SELECT node AS start, CAST(wi AS BIGINT) AS walk_id,
         |    node AS pos, node AS path
         |  FROM nodes, (SELECT unnest(range(0, $nWalks)) AS wi) ws)"""
        .stripMargin
    val stepCtes = (1 to steps).map { t =>
      s"""w$t AS (
         |  SELECT w.start, w.walk_id,
         |    COALESCE(r.dst, w.pos) AS pos,
         |    w.path || ' ' || COALESCE(r.dst, w.pos) AS path
         |  FROM w${t - 1} w
         |  LEFT JOIN ranked r ON r.src = w.pos
         |    AND r.rk = (w.walk_id * 2654435761 + $t * 2246822519
         |      + ascii(substring(w.pos, 1, 1)) * 97
         |      + length(w.pos) * 31) % r.deg)""".stripMargin
    }
    (base +: stepCtes).mkString(",\n") +
      s"""
         |SELECT start, walk_id, path FROM w$steps
         |ORDER BY start, walk_id""".stripMargin
  }

  /** Shared all-pairs BFS over the event-transition graph: the
    * sparse (s, node, d) reached-pair frame of [[closeness]] /
    * [[betweenness]], factored so distance-derived operators reuse
    * one construction. Each round expands the frontier one hop
    * through the deduped edge list with a grouped MIN; the post-loop
    * relaxation ASSERTS the BFS fixpoint (the [[sssp]] discipline)
    * so truncated rounds can never hash green. */
  private def transitionBfs(s: SparkSession, dir: String,
      iters: Int): DataFrame = {
    val ev = Tables.events(s, dir)
    val edges = transitionPairs(ev).filter(col("dst") =!= col("src"))
      .distinct().localCheckpoint()
    var dist = ev.select(col("event_type").as("node")).distinct()
      .select(col("node").as("s"), col("node"), lit(0L).as("d"))
    for (_ <- 1 to iters) {
      dist = dist.unionByName(dist
          .join(edges.withColumnRenamed("src", "node"), "node")
          .select(col("s"), col("dst").as("node"),
            (col("d") + 1L).as("d")))
        .groupBy(col("s"), col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint()
    }
    val more = dist
      .join(edges.withColumnRenamed("src", "node"), "node")
      .select(col("s"), col("dst").as("node"),
        (col("d") + 1L).as("cand"))
      .join(dist.withColumnRenamed("d", "cur"), Seq("s", "node"), "left")
      .filter(col("cur").isNull || col("cand") < col("cur"))
      .count()
    require(more == 0L,
      s"transitionBfs: $iters rounds did not reach the fixpoint " +
      s"($more pairs still improvable) — raise iters on BOTH the " +
      "engine and the unrolled oracle")
    dist
  }

  /** The unrolled-CTE form of [[transitionBfs]] (shared oracle
    * prefix): defines `edges`, `nodes`, and `it0..it$iters`, where
    * `it$iters` is the fixpoint (s, node, d) table. */
  private def transitionBfsSql(iters: Int): String = {
    val base =
      s"""WITH $OrdSql,
         |edges AS (SELECT DISTINCT src, dst FROM ord
         |          WHERE dst IS NOT NULL AND dst <> src),
         |nodes AS (SELECT DISTINCT event_type AS node FROM events),
         |it0 AS (SELECT node AS s, node, CAST(0 AS BIGINT) AS d
         |        FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""it$i AS (
         |  SELECT s, node, MIN(d) AS d FROM (
         |    SELECT s, node, d FROM it${i - 1}
         |    UNION ALL
         |    SELECT q.s, e.dst AS node, q.d + 1 AS d
         |    FROM it${i - 1} q JOIN edges e ON e.src = q.node)
         |  GROUP BY s, node)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** Eccentricity / diameter / radius — the distance-extremes
    * member of the centrality family ([[closeness]] averages the
    * distances; eccentricity takes their MAX): per node, the longest
    * shortest path to any REACHABLE node (the standard finite
    * eccentricity on a digraph that need not be strongly connected),
    * plus the graph diameter (max ecc) and radius (min ecc) repeated
    * per row so one frame answers "is this node peripheral/central".
    * All quantities are hop counts — exact BIGINTs end to end.
    *
    * Scale: one [[transitionBfs]] (O(reached pairs), the all-pairs
    * premise of exact eccentricity) + a per-source max + one 2-value
    * broadcast; the sampled-source swap documented on [[closeness]]
    * applies unchanged. */
  def eccentricity(s: SparkSession, dir: String,
      iters: Int = 6): DataFrame = {
    val per = transitionBfs(s, dir, iters)
      .groupBy(col("s").as("node"))
      .agg((count(lit(1)) - 1L).as("n_reach"), max(col("d")).as("ecc"))
    val dr = per.agg(max(col("ecc")).as("diameter"),
      min(col("ecc")).as("radius"))
    per.crossJoin(broadcast(dr))
      .select(col("node"), col("n_reach"), col("ecc"),
        col("diameter"), col("radius"))
      .orderBy(col("node"))
  }

  def eccentricitySql(iters: Int = 6): String =
    transitionBfsSql(iters) +
      s""",
         |per AS (
         |  SELECT s AS node, COUNT(*) - 1 AS n_reach,
         |    CAST(MAX(d) AS BIGINT) AS ecc
         |  FROM it$iters GROUP BY s),
         |dr AS (SELECT CAST(MAX(ecc) AS BIGINT) AS diameter,
         |              CAST(MIN(ecc) AS BIGINT) AS radius FROM per)
         |SELECT p.node, p.n_reach, p.ecc, dr.diameter, dr.radius
         |FROM per p CROSS JOIN dr ORDER BY p.node""".stripMargin

  /** Strongly connected components — mutual-reachability labels on
    * the directed transition graph (the [[components]] family covers
    * only the UNDIRECTED case; cycles like add→remove→add are
    * invisible to it). With the all-pairs reach table R from
    * [[transitionBfs]], v and u share an SCC iff (v,u) ∈ R ∧ (u,v)
    * ∈ R, so the label is `scc(v) = min{u : mutual(v,u)}` — one
    * self-join of R on the transposed key + a grouped MIN, exact by
    * construction (no iteration-count heuristics; the BFS fixpoint
    * is asserted upstream). The self-pair d=0 guarantees every node
    * gets a label.
    *
    * Scale: R is O(reached pairs) — the premise of exact SCC on a
    * type-level graph (nodes = event vocabularies, dozens). For
    * million-node graphs the standard swap is iterative
    * forward/backward pivot trimming (Fleischer), which this
    * formulation degenerates to when seeded with sampled pivots. */
  def scc(s: SparkSession, dir: String, iters: Int = 6): DataFrame = {
    val reach = transitionBfs(s, dir, iters)
      .select(col("s").as("v"), col("node").as("u"))
    val lab = reach
      .join(reach.toDF("u2", "v2"),
        col("u2") === col("u") && col("v2") === col("v"))
      .groupBy(col("v").as("node")).agg(min(col("u")).as("scc"))
    val sz = lab.groupBy(col("scc")).agg(count(lit(1)).as("scc_size"))
    lab.join(broadcast(sz), "scc")
      .select(col("node"), col("scc"), col("scc_size"))
      .orderBy(col("node"))
  }

  def sccSql(iters: Int = 6): String =
    transitionBfsSql(iters) +
      s""",
         |mut AS (
         |  SELECT f.s AS v, f.node AS u
         |  FROM it$iters f JOIN it$iters b
         |    ON b.s = f.node AND b.node = f.s),
         |lab AS (SELECT v AS node, MIN(u) AS scc FROM mut GROUP BY v),
         |sz AS (SELECT scc, CAST(COUNT(*) AS BIGINT) AS scc_size
         |       FROM lab GROUP BY scc)
         |SELECT l.node, l.scc, sz.scc_size
         |FROM lab l JOIN sz ON sz.scc = l.scc
         |ORDER BY l.node""".stripMargin

  /** Degree assortativity — "do hubs link to hubs?": the Pearson
    * correlation between source OUT-degree and destination IN-degree
    * across the distinct transition edges (the standard directed
    * out–in assortativity). Positive r = assortative (hubby types
    * feed each other), negative = disassortative (hubs feed leaves)
    * — the one-number structural summary the degree/reciprocity gate
    * doesn't capture. Uses the same cross-multiplied integer form as
    * the repo's correlation gates: five exact BIGINT power sums over
    * the edge list, then ONE fixed double expression with a
    * zero-variance guard.
    *
    * Scale: degrees are one map-combined groupBy each; the per-edge
    * (x, y) frame joins the node-sized degree tables (broadcast);
    * the final reduce is map-combinable. Nothing is quadratic. */
  def assortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = transitionPairs(Tables.events(s, dir))
      .filter(col("dst") =!= col("src"))
      .distinct().localCheckpoint()
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("x"))
    val inDeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("y"))
    edges.join(broadcast(outDeg), "src").join(broadcast(inDeg), "dst")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_edges"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        when(
          (col("n") * col("sxx") - col("sx") * col("sx")) === 0L ||
          (col("n") * col("syy") - col("sy") * col("sy")) === 0L,
          lit(0.0))
          .otherwise(
            (col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double")
            / sqrt(
              (col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double")
              * (col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double"))).as("r"))
  }

  val assortativitySql: String =
    s"""WITH $OrdSql,
       |edges AS (SELECT DISTINCT src, dst FROM ord
       |          WHERE dst IS NOT NULL AND dst <> src),
       |od AS (SELECT src, COUNT(*) AS x FROM edges GROUP BY src),
       |id AS (SELECT dst, COUNT(*) AS y FROM edges GROUP BY dst),
       |s AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM edges e
       |  JOIN od ON od.src = e.src
       |  JOIN id ON id.dst = e.dst)
       |SELECT n AS n_edges,
       |  CAST(n * sxy - sx * sy AS BIGINT) AS num,
       |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
       |    THEN 0.0
       |    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
       |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
       |             * CAST(n * syy - sy * sy AS DOUBLE))
       |  END AS r
       |FROM s""".stripMargin

  // ---------------------------------------------------------------- //

  /** Topological layering (longest-path depth) of the event-type
    * precedence DAG: transition edges restricted to `src < dst`
    * (lexicographic — guarantees acyclicity), layer(v) = length of
    * the longest incoming path. The DAG-scheduling primitive:
    * layer k = everything runnable in parallel wave k.
    *
    * Iterative max-relaxation: layer(v) ← max(layer(v),
    * max(layer(u)+1 over u→v)); the layer SUM increases strictly
    * until the fixpoint, so an unchanged sum is an exact convergence
    * test, and a post-loop relaxation ASSERTS the fixpoint (the
    * sssp/closeness discipline — truncated rounds cannot hash
    * green). Rounds = longest path length ≤ |node alphabet|.
    *
    * Scale: the corpus collapses to distinct (src, dst) pairs in one
    * map-combinable aggregate; every round is one equi-join +
    * groupBy-max over the O(types²) edge frame. */
  def topoLayers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val edges = transitionPairs(ev).filter(col("src") < col("dst"))
      .distinct().cache()
    val nodes = ev.select(col("event_type").as("node")).distinct()
    def relax(l: DataFrame): DataFrame = edges
      .join(l, col("src") === col("node"))
      .select(col("dst").as("node"), (col("layer") + 1L).as("layer"))
      .union(l.select(col("node"), col("layer")))
      .groupBy(col("node")).agg(max(col("layer")).as("layer"))
    def laySum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("layer")), lit(0L))).head().getLong(0)
    var layers = nodes.withColumn("layer", lit(0L)).localCheckpoint()
    var prev = laySum(layers)
    var changed = true
    var iter = 0
    while (changed && iter < 40) {
      val next = relax(layers).localCheckpoint()
      val cur = laySum(next)
      changed = cur != prev
      prev = cur
      Checkpoint.release(layers)
      layers = next
      iter += 1
    }
    require(laySum(relax(layers)) == prev,
      s"topoLayers: not at fixpoint after $iter rounds")
    edges.unpersist(blocking = false)
    layers.orderBy(col("node"))
  }

  val topoLayersSql: String =
    s"""WITH RECURSIVE $OrdSql,
       |edges AS (SELECT DISTINCT src, dst FROM ord
       |          WHERE dst IS NOT NULL AND src < dst),
       |nodes AS (SELECT DISTINCT event_type AS node FROM events),
       |reach(node, d) AS (
       |  SELECT node, 0 FROM nodes
       |  UNION
       |  SELECT e.dst, r.d + 1 FROM reach r JOIN edges e
       |    ON e.src = r.node)
       |SELECT node, CAST(MAX(d) AS BIGINT) AS layer
       |FROM reach GROUP BY node
       |ORDER BY node""".stripMargin

  /** Directed 3-node MOTIF CENSUS over the event-transition digraph:
    * reciprocal dyads, transitive (feed-forward) triads — edges
    * a→b, b→c, a→c with distinct roles, each instance counted once —
    * and 3-cycles a→b→c→a, deduped to one count per cycle by pinning
    * the smallest node first. The triangles/k-truss family sees only
    * the undirected skeleton; DIRECTION is what separates a
    * hierarchy (feed-forward-heavy) from churn loops (cycle-heavy)
    * in behavioral graphs.
    *
    * Scale: same premise as [[triangles]] — the distinct-edge frame
    * is O(event-types²) metadata, so the triple self-joins are
    * bounded by the type vocabulary, not the corpus; the corpus is
    * touched once to build edges. */
  def motifCensus(s: SparkSession, dir: String): DataFrame = {
    val edges = transitionPairs(Tables.events(s, dir))
      .filter(col("dst") =!= col("src"))
      .distinct()
      .localCheckpoint() // O(types²) metadata; cut for the self-joins
    val recip = edges.as("e1")
      .join(edges.as("e2"),
        col("e1.src") === col("e2.dst") && col("e1.dst") === col("e2.src"))
      .filter(col("e1.src") < col("e1.dst"))
      .count()
    val ab = edges.toDF("a", "b")
    val bc = edges.toDF("b", "c")
    val triples = ab.join(bc, "b")
      .filter(col("a") =!= col("c"))
    val ffl = triples
      .join(edges.toDF("a", "c"), Seq("a", "c"))
      .count()
    val cyc = triples
      .join(edges.toDF("c", "a"), Seq("c", "a"))
      .filter(col("a") < col("b") && col("a") < col("c"))
      .count()
    import s.implicits._
    Seq((edges.count(), recip, ffl, cyc))
      .toDF("n_edges", "n_recip", "n_ffl", "n_cycle")
  }

  val motifCensusSql: String =
    s"""WITH $OrdSql,
       |edges AS (
       |  SELECT DISTINCT src, dst FROM ord
       |  WHERE dst IS NOT NULL AND dst <> src)
       |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM edges e1
      |   JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
      |   WHERE e1.src < e1.dst) AS n_recip,
      |  (SELECT CAST(COUNT(*) AS BIGINT)
      |   FROM edges ab JOIN edges bc ON bc.src = ab.dst
      |   JOIN edges ac ON ac.src = ab.src AND ac.dst = bc.dst
      |   WHERE ab.src <> bc.dst) AS n_ffl,
      |  (SELECT CAST(COUNT(*) AS BIGINT)
      |   FROM edges ab JOIN edges bc ON bc.src = ab.dst
      |   JOIN edges ca ON ca.src = bc.dst AND ca.dst = ab.src
      |   WHERE ab.src <> bc.dst AND ab.src < ab.dst
      |     AND ab.src < bc.dst) AS n_cycle""".stripMargin

  /** TEMPORAL reachability (time-respecting BFS): earliest arrival
    * at every event type from the lexicographically-first type,
    * where a transition (u→v, departs t₁, arrives t₂) is usable
    * only if you've REACHED u by t₁ — the semantics static BFS gets
    * wrong on temporal graphs (a path that uses an edge from last
    * week after arriving this week isn't a path). Relaxation:
    * arrival(v) = min t_arr over edges with t_dep ≥ arrival(u),
    * iterated to an ASSERTED fixpoint (the sssp discipline).
    *
    * Scale: edge INSTANCES stay distributed (corpus-sized — unlike
    * the static gates' aggregated type pairs, temporal edges cannot
    * pre-aggregate away their timestamps); each round broadcasts the
    * O(types) arrival vector into them and reduces min per dst. */
  def temporalBfs(s: SparkSession, dir: String, iters: Int = 6)
      : DataFrame = {
    val ev = Tables.events(s, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val edges = ev.select(
        col("event_type").as("src"),
        unix_millis(col("ts")).as("t_dep"),
        lead(col("event_type"), 1).over(w).as("dst"),
        lead(unix_millis(col("ts")), 1).over(w).as("t_arr"))
      .filter(col("dst").isNotNull && col("dst") =!= col("src"))
      .cache() // reused every round; corpus-sized, so cache not ckpt
    val srcType = ev.agg(min(col("event_type"))).head().getString(0)
    def relaxOnce(arr: DataFrame): DataFrame = {
      val relax = edges
        .join(broadcast(arr.filter(col("arrival").isNotNull)
          .select(col("node").as("src"), col("arrival"))), "src")
        .filter(col("t_dep") >= col("arrival"))
        .groupBy(col("dst")).agg(min(col("t_arr")).as("cand"))
      arr.join(relax.withColumnRenamed("dst", "node"),
          Seq("node"), "left")
        .select(col("node"), expr(
          """CASE WHEN arrival IS NULL THEN cand
            |WHEN cand IS NULL THEN arrival
            |ELSE LEAST(arrival, cand) END""".stripMargin)
          .as("arrival"))
    }
    var arr = ev.select(col("event_type").as("node")).distinct()
      .withColumn("arrival",
        when(col("node") === srcType, 0L).otherwise(
          lit(null).cast("long")))
      .localCheckpoint() // O(types)
    for (_ <- 1 to iters) arr = relaxOnce(arr).localCheckpoint()
    val changed = relaxOnce(arr)
      .except(arr).count() // fixpoint assertion, the sssp discipline
    require(changed == 0,
      s"temporalBfs: $iters rounds did not reach the fixpoint — " +
        "raise iters")
    arr.orderBy(col("node"))
  }

  def temporalBfsSql(iters: Int = 6): String = {
    val base =
      """WITH ord AS (
        |  SELECT event_type AS src, epoch_ms(ts) AS t_dep,
        |    LEAD(event_type) OVER w AS dst,
        |    LEAD(epoch_ms(ts)) OVER w AS t_arr
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |tedges AS (
        |  SELECT src, CAST(t_dep AS BIGINT) AS t_dep, dst,
        |    CAST(t_arr AS BIGINT) AS t_arr
        |  FROM ord WHERE dst IS NOT NULL AND dst <> src),
        |nodes AS (SELECT DISTINCT event_type AS node FROM events),
        |it0 AS (
        |  SELECT node,
        |    CASE WHEN node = (SELECT MIN(event_type) FROM events)
        |      THEN CAST(0 AS BIGINT) END AS arrival
        |  FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""it$i AS (
         |  SELECT p.node,
         |    CASE WHEN p.arrival IS NULL THEN v.cand
         |      WHEN v.cand IS NULL THEN p.arrival
         |      ELSE LEAST(p.arrival, v.cand) END AS arrival
         |  FROM it${i - 1} p
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(MIN(e.t_arr) AS BIGINT)
         |      AS cand
         |    FROM tedges e JOIN it${i - 1} q ON q.node = e.src
         |    WHERE q.arrival IS NOT NULL AND e.t_dep >= q.arrival
         |    GROUP BY e.dst) v ON v.node = p.node)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT node, arrival FROM it$iters ORDER BY node"
  }

  /** Viterbi over the behavioral Markov chain: the MOST PROBABLE
    * k-step path from the lexicographically-first event type, using
    * the same maximum-likelihood transition probabilities the
    * [[transitions]] gate estimates. DP in ppm-scaled integers —
    * score(v,k) = max over edges u→v of score(u,k−1)·p(u,v) div 10⁶
    * — so the recurrence is exact; the argmax predecessor is the
    * MIN pred among score-achievers (deterministic without relying
    * on either engine's arg_max tie rules). This is the "what is a
    * user most likely doing 3 steps from here" query, the max-⊕
    * counterpart of [[ts_attribution_markov]]'s sum-⊕ chain.
    *
    * Scale: k joins of the O(types²) probability edges against the
    * O(types) score vector — metadata by the type-vocabulary
    * premise; the corpus is scanned once for the counts. */
  def viterbiPath(s: SparkSession, dir: String, k: Int = 3)
      : DataFrame = {
    val ev = Tables.events(s, dir)
    val probs = transitionPairs(ev)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("wn"))
      .withColumn("ow", sum(col("wn")).over(
        Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"),
        expr("(wn * 1000000) div ow").as("p_ppm"))
      .localCheckpoint() // O(types²)
    val srcType = ev.agg(min(col("event_type"))).head().getString(0)
    import s.implicits._
    var scores = Seq((srcType, 1000000L, "-"))
      .toDF("node", "score_ppm", "best_prev")
    val out = Seq.newBuilder[DataFrame]
    for (step <- 1 to k) {
      val cand = probs
        .join(scores.select(col("node").as("src"),
          col("score_ppm").as("ps")), "src")
        .select(col("dst").as("node"), col("src"),
          expr("(ps * p_ppm) div 1000000").as("sc"))
      val best = cand.groupBy(col("node")).agg(max(col("sc"))
        .as("score_ppm"))
      scores = best
        .join(cand.toDF("node", "src", "sc"),
          Seq("node"))
        .filter(col("sc") === col("score_ppm"))
        .groupBy(col("node"), col("score_ppm"))
        .agg(min(col("src")).as("best_prev"))
        .localCheckpoint() // O(types)
      out += scores.select(lit(step.toLong).as("k"), col("node"),
        col("score_ppm"), col("best_prev"))
    }
    out.result().reduce(_ unionByName _)
      .orderBy(col("k"), col("node"))
  }

  def viterbiPathSql(k: Int = 3): String = {
    val base =
      s"""WITH $OrdSql,
         |$EdgesSql,
         |probs AS (
         |  SELECT src, dst,
         |    (w * 1000000) // SUM(w) OVER (PARTITION BY src) AS p_ppm
         |  FROM edges),
         |s0 AS (
         |  SELECT (SELECT MIN(event_type) FROM events) AS node,
         |    CAST(1000000 AS BIGINT) AS score_ppm)""".stripMargin
    val steps = (1 to k).map { i =>
      val prev = if (i == 1) "s0" else s"s${i - 1}"
      s"""c$i AS (
         |  SELECT p.dst AS node, p.src,
         |    CAST((q.score_ppm * p.p_ppm) // 1000000 AS BIGINT) AS sc
         |  FROM probs p JOIN $prev q ON q.node = p.src),
         |s$i AS (
         |  SELECT node, CAST(MAX(sc) AS BIGINT) AS score_ppm,
         |    MIN(CASE WHEN sc = best THEN src END) AS best_prev
         |  FROM (SELECT node, src, sc,
         |          MAX(sc) OVER (PARTITION BY node) AS best
         |        FROM c$i)
         |  GROUP BY node)""".stripMargin
    }
    val finals = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS k, node, score_ppm, best_prev " +
        s"FROM s$i")
    (base +: steps).mkString(",\n") + "\n" +
      finals.mkString("\nUNION ALL\n") + "\nORDER BY k, node"
  }

  /** Rich-club coefficient curve (Zhou & Mondragón 2004; Colizza et
    * al., Nature Physics 2006 for the density form): for each degree
    * threshold k, φ(k) = 2·E_{>k} / (N_{>k}·(N_{>k}−1)) — how densely
    * the hubs of the UNDIRECTED type-transition graph connect to each
    * other. Emits one row per k from 0 to max degree − 1 with the
    * exact member/edge counts and φ as ppm (`div` on non-negative
    * operands, so truncate == floor).
    *
    * Scale: the corpus collapses to the O(types²) undirected edge
    * set in one windowed pass + aggregate; degrees are one groupBy
    * on that edge set; the k-sweep explodes O(maxdeg) thresholds
    * against the O(types²) edge frame — all metadata-sized, joined
    * by broadcast. */
  def richClub(s: SparkSession, dir: String): DataFrame = {
    val und = transitionPairs(Tables.events(s, dir))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val maxDeg = deg.agg(max(col("deg"))).head().getLong(0)
    import s.implicits._
    val ks = (0L until maxDeg).toDF("k")
    val nk = ks.join(broadcast(deg),
        col("deg") > col("k"), "left")
      .groupBy(col("k"))
      .agg(count(col("node")).as("n_rich"))
    val edged = und
      .join(broadcast(deg.toDF("u", "du")), "u")
      .join(broadcast(deg.toDF("v", "dv")), "v")
    val ek = ks.join(broadcast(edged),
        col("du") > col("k") && col("dv") > col("k"), "left")
      .groupBy(col("k"))
      .agg(count(col("u")).as("e_rich"))
    nk.join(broadcast(ek), "k")
      .select(col("k"), col("n_rich"), col("e_rich"),
        when(col("n_rich") >= 2,
          expr("(2 * e_rich * 1000000) div (n_rich * (n_rich - 1))"))
          .as("phi_ppm"))
      .orderBy(col("k"))
  }

  val richClubSql: String =
    s"""WITH $OrdSql,
       |und AS (
       |  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |  FROM ord WHERE dst IS NOT NULL AND src <> dst),
       |deg AS (
       |  SELECT node, COUNT(*) AS deg FROM (
       |    SELECT u AS node FROM und
       |    UNION ALL SELECT v FROM und)
       |  GROUP BY node),
       |ks AS (
       |  SELECT unnest(range(0, (SELECT MAX(deg) FROM deg))) AS k),
       |nk AS (
       |  SELECT k, CAST(COUNT(d.node) AS BIGINT) AS n_rich
       |  FROM ks LEFT JOIN deg d ON d.deg > ks.k
       |  GROUP BY k),
       |edged AS (
       |  SELECT und.u, und.v, du.deg AS du, dv.deg AS dv
       |  FROM und
       |  JOIN deg du ON du.node = und.u
       |  JOIN deg dv ON dv.node = und.v),
       |ek AS (
       |  SELECT k, CAST(COUNT(e.u) AS BIGINT) AS e_rich
       |  FROM ks LEFT JOIN edged e ON e.du > ks.k AND e.dv > ks.k
       |  GROUP BY k)
       |SELECT CAST(ks.k AS BIGINT) AS k, nk.n_rich, ek.e_rich,
       |  CASE WHEN nk.n_rich >= 2 THEN
       |    (2 * ek.e_rich * 1000000) // (nk.n_rich * (nk.n_rich - 1))
       |  END AS phi_ppm
       |FROM ks JOIN nk ON nk.k = ks.k JOIN ek ON ek.k = ks.k
       |ORDER BY k""".stripMargin

  /** Bipartite projection of the user–event-type graph onto types
    * (Newman 2001's collaboration-weight idea, cosine-normalized):
    * types are linked by the users they SHARE, weight = distinct
    * shared users, normalized `shared/√(n_u·n_v)` so a hub type's
    * overlaps don't swamp the niche ones — the "users who do A also
    * do B" co-engagement matrix behaviors pipelines feed to
    * recommenders.
    *
    * Scale: the (user, type) distinct is one map-combinable reduce;
    * the pair join is WITHIN user groups (fanout bounded by
    * types-per-user, never corpus×corpus — the [[Mining]] basket
    * discipline); the normalization joins the O(types) degree frame
    * by broadcast. Cosine is one fixed sqrt tree e6-snapped. */
  def bipartiteProject(s: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val deg = ut.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val pairs = ut.toDF("user_id", "ta")
      .join(ut.toDF("user_id", "tb"), "user_id")
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(deg.toDF("ta", "n_a")), "ta")
      .join(broadcast(deg.toDF("tb", "n_b")), "tb")
      .select(col("ta"), col("tb"), col("shared"),
        col("n_a"), col("n_b"),
        expr("CAST(floor(CAST(shared AS DOUBLE)" +
          " / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))" +
          " * 1e6 + 0.5) AS BIGINT)").as("cosine_e6"))
      .orderBy(col("ta"), col("tb"))
  }

  val bipartiteProjectSql: String =
    """WITH ut AS (
      |  SELECT DISTINCT user_id, event_type FROM events),
      |deg AS (
      |  SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type),
      |pairs AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb,
      |    COUNT(*) AS shared
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |   AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT p.ta, p.tb, p.shared, da.n AS n_a, db.n AS n_b,
      |  CAST(floor(CAST(p.shared AS DOUBLE)
      |    / sqrt(CAST(da.n AS DOUBLE) * CAST(db.n AS DOUBLE))
      |    * 1e6 + 0.5) AS BIGINT) AS cosine_e6
      |FROM pairs p
      |JOIN deg da ON da.event_type = p.ta
      |JOIN deg db ON db.event_type = p.tb
      |ORDER BY p.ta, p.tb""".stripMargin

  /** Per-state transition entropy over the behavioral Markov chain —
    * "how predictable is what happens after X": H(dst | src) =
    * −Σ p·ln p over [[transitions]]' maximum-likelihood rows, plus
    * the normalized uncertainty H/ln(out-degree) (1 = uniform, 0 =
    * deterministic). Per-edge terms are computed from EXACT counts
    * in one fixed double tree and 1e-9-snapped BEFORE the per-state
    * sum (the jsDivergence discipline); single-successor states emit
    * 0 entropy and NULL normalized form.
    *
    * Scale: the corpus collapses to O(types²) weighted edges in one
    * windowed pass; everything here is arithmetic on that grid. */
  def transitionEntropy(s: SparkSession, dir: String): DataFrame = {
    val edges = transitionPairs(Tables.events(s, dir))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("wn"))
      .withColumn("ow", sum(col("wn")).over(
        Window.partitionBy(col("src"))))
    edges
      .withColumn("term9", expr(
        "CAST(floor(-(CAST(wn AS DOUBLE)/CAST(ow AS DOUBLE))" +
          " * ln(CAST(wn AS DOUBLE)/CAST(ow AS DOUBLE))" +
          " * 1e9 + 0.5) AS BIGINT)"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_out"), max(col("ow")).as("out_w"),
        sum(col("term9")).as("entropy_e9"))
      .select(col("src"), col("n_out"), col("out_w"),
        col("entropy_e9"),
        when(col("n_out") > 1, expr(
          "CAST(floor(CAST(entropy_e9 AS DOUBLE)" +
            " / ln(CAST(n_out AS DOUBLE)) / 1e9 * 1e6 + 0.5)" +
            " AS BIGINT)")).as("norm_ppm"))
      .orderBy(col("src"))
  }

  val transitionEntropySql: String =
    s"""WITH $OrdSql,
       |$EdgesSql,
       |ow AS (
       |  SELECT src, dst, w,
       |    CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT) AS ow
       |  FROM edges),
       |terms AS (
       |  SELECT src, ow,
       |    CAST(floor(-(CAST(w AS DOUBLE)/CAST(ow AS DOUBLE))
       |      * ln(CAST(w AS DOUBLE)/CAST(ow AS DOUBLE))
       |      * 1e9 + 0.5) AS BIGINT) AS term9
       |  FROM ow)
      |SELECT src, COUNT(*) AS n_out,
      |  CAST(MAX(ow) AS BIGINT) AS out_w,
      |  CAST(SUM(term9) AS BIGINT) AS entropy_e9,
      |  CASE WHEN COUNT(*) > 1 THEN
      |    CAST(floor(CAST(SUM(term9) AS DOUBLE)
      |      / ln(CAST(COUNT(*) AS DOUBLE)) / 1e9 * 1e6 + 0.5)
      |      AS BIGINT) END AS norm_ppm
      |FROM terms GROUP BY src
      |ORDER BY src""".stripMargin

  /** Distinct-path counting over the type DAG (src < dst transition
    * edges — acyclic by construction, the [[topoLayers]] premise):
    * paths(v) = [v is a source] + Σ_{u→v} paths(u), iterated to the
    * DAG depth so every path from any in-degree-0 source to v is
    * counted exactly once — the "how many distinct funnels reach
    * this state" combinatorial census. Pure exact integer DP; the
    * oracle unrolls the identical recurrence.
    *
    * Scale: each round joins the O(types²) edge frame against the
    * O(types) count vector (broadcast; rankStep's shuffle swap
    * applies verbatim at vocabulary scale); depth ≤ node count. */
  def dagPaths(s: SparkSession, dir: String, iters: Int = 5)
      : DataFrame = {
    val ev = Tables.events(s, dir)
    val edges = transitionPairs(ev).filter(col("src") < col("dst"))
      .distinct().localCheckpoint()
    val nodes = ev.select(col("event_type").as("node")).distinct()
      .localCheckpoint()
    val sources = nodes.join(edges.select(col("dst").as("node"))
      .distinct(), Seq("node"), "left_anti")
      .withColumn("p0", lit(1L))
    var p = nodes.join(sources.select(col("node"), col("p0")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("p0"), lit(0L)).as("p"))
      .localCheckpoint()
    val base = p
    for (_ <- 1 to iters) {
      val flow = edges.join(broadcast(p.toDF("src", "ps")), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("ps")).as("inflow"))
      p = base.toDF("node", "p0")
        .join(broadcast(flow), Seq("node"), "left")
        .select(col("node"),
          (col("p0") + coalesce(col("inflow"), lit(0L))).as("p"))
        .localCheckpoint()
    }
    p.select(col("node"), col("p").as("n_paths"))
      .orderBy(col("node"))
  }

  def dagPathsSql(iters: Int = 5): String = {
    val base =
      s"""WITH $OrdSql,
         |edges AS (
         |  SELECT DISTINCT src, dst FROM ord
         |  WHERE dst IS NOT NULL AND src < dst),
         |nodes AS (SELECT DISTINCT event_type AS node FROM events),
         |p0 AS (
         |  SELECT node,
         |    CASE WHEN node NOT IN (SELECT dst FROM edges)
         |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS p
         |  FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""p$i AS (
         |  SELECT n.node,
         |    b.p + COALESCE(f.inflow, 0) AS p
         |  FROM nodes n
         |  JOIN p0 b ON b.node = n.node
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(q.p) AS BIGINT) AS inflow
         |    FROM edges e JOIN p${i - 1} q ON q.node = e.src
         |    GROUP BY e.dst) f ON f.node = n.node)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(p AS BIGINT) AS n_paths FROM p$iters" +
      " ORDER BY node"
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003) — the
    * rarity-weighted upgrade of [[linkPredict]]'s common-neighbor
    * count: candidates score Σ_z 1/ln(deg z) over shared neighbors
    * z, so a hub "friend" contributes little and a rare one a lot.
    * Same planted chain+skip graph as the link-predict gate; each
    * per-neighbor term is snapped to 1e-9 longs BEFORE the sum
    * (deg ≥ 2 for any common neighbor, so ln never hits 0), exact
    * top-30 by (score desc, pair).
    *
    * Scale: the wedge join is the triangle-counting shape (per-
    * neighbor fan-out bounded by degree); the degree table joins
    * the WEDGE CENTER before grouping, so terms price in one pass. */
  def adamicAdar(s: SparkSession, dir: String, k: Int = 30)
      : DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id")).filter(col("doc_id") < 128)
    val chain = d.toDF("id_a")
      .join(d.toDF("id_b"), col("id_b") === col("id_a") + 1)
      .filter(col("id_a") % 8 =!= 7)
    val skip = d.toDF("id_a")
      .join(d.toDF("id_b"), col("id_b") === col("id_a") + 2)
      .filter(col("id_a") % 2 === 0)
    val edges = chain.unionByName(skip)
    val sym = edges.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(edges.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct()
    val deg = sym.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
    val cand = sym.toDF("n", "a")
      .join(sym.toDF("n", "b"), "n")
      .filter(col("a") < col("b"))
      .join(broadcast(deg.toDF("n", "dn")), "n")
      .withColumn("term9", expr(
        "CAST(floor(1e9 / ln(CAST(dn AS DOUBLE)) + 0.5) AS BIGINT)"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"), sum(col("term9")).as("aa_e9"))
      .join(sym.toDF("a", "b"), Seq("a", "b"), "left_anti")
    cand.orderBy(col("aa_e9").desc, col("a"), col("b")).limit(k)
      .select(col("a"), col("b"), col("cn"), col("aa_e9"))
  }

  def adamicAdarSql(k: Int = 30): String =
    s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 128),
      |chain AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
      |  WHERE a.doc_id % 8 <> 7),
      |skip AS (
      |  SELECT a.doc_id, b.doc_id
      |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 2
      |  WHERE a.doc_id % 2 = 0),
      |edges AS (SELECT * FROM chain UNION ALL SELECT * FROM skip),
      |sym AS (
      |  SELECT DISTINCT id_a AS u, id_b AS v FROM edges
      |  UNION SELECT id_b, id_a FROM edges),
      |deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY u),
      |cand AS (
      |  SELECT x.a, x.b, COUNT(*) AS cn,
      |    CAST(SUM(CAST(floor(1e9 / ln(CAST(dg.deg AS DOUBLE)) + 0.5)
      |      AS BIGINT)) AS BIGINT) AS aa_e9
      |  FROM (SELECT s1.u AS n, s1.v AS a, s2.v AS b
      |        FROM sym s1 JOIN sym s2 ON s2.u = s1.u
      |        WHERE s1.v < s2.v) x
      |  JOIN deg dg ON dg.node = x.n
      |  GROUP BY x.a, x.b),
      |nonadj AS (
      |  SELECT c.* FROM cand c
      |  LEFT JOIN sym s ON s.u = c.a AND s.v = c.b
      |  WHERE s.u IS NULL)
      |SELECT a, b, cn, aa_e9 FROM nonadj
      |ORDER BY aa_e9 DESC, a, b LIMIT $k""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_adamic_adar" -> ((s, d) => adamicAdar(s, d)),
    "graph_dag_paths" -> ((s, d) => dagPaths(s, d)),
    "graph_transition_entropy" -> (transitionEntropy _),
    "graph_bipartite_project" -> (bipartiteProject _),
    "graph_rich_club" -> (richClub _),
    "graph_viterbi_path" -> ((s, d) => viterbiPath(s, d)),
    "graph_temporal_bfs" -> ((s, d) => temporalBfs(s, d)),
    "graph_motif_census" -> (motifCensus _),
    "graph_topo_layers" -> (topoLayers _),
    "graph_assortativity" -> (assortativity _),
    "graph_ppr" -> ((s, d) => ppr(s, d)),
    "graph_ktruss" -> ((s, d) => kTruss(s, d)),
    "graph_walks" -> ((s, d) => walks(s, d)),
    "graph_clustering_coeff" -> (clusteringCoeff _),
    "graph_powerlaw_alpha" -> (powerlawAlpha _),
    "graph_eccentricity" -> ((s, d) => eccentricity(s, d)),
    "graph_scc" -> ((s, d) => scc(s, d)),
    "graph_betweenness" -> ((s, d) => betweenness(s, d)),
    "graph_closeness" -> ((s, d) => closeness(s, d)),
    "graph_harmonic" -> ((s, d) => harmonic(s, d)),
    "graph_modularity" -> ((s, d) => modularity(s, d)),
    "graph_degree_stats" -> (degreeStats _),
    "graph_link_predict" -> (linkPredictGate _),
    "graph_label_prop"  -> ((s, d) => labelPropagation(s, d)),
    "graph_conductance" -> (conductance _),
    "graph_bfs"         -> (bfsGate _),
    "graph_kcore"       -> (kCoreGate _),
    "graph_triangles"   -> (triangles _),
    "graph_pagerank"    -> ((s, d) => pageRank(s, d)),
    "graph_pagerank_shuffle" ->
      ((s, d) => pageRank(s, d, broadcastRanks = false)),
    "graph_transitions" -> (transitions _),
    "graph_sssp"        -> ((s, d) => sssp(s, d)),
    "graph_hits"        -> ((s, d) => hits(s, d)))

  def oracle: Map[String, String] = Map(
    "graph_adamic_adar" -> adamicAdarSql(),
    "graph_dag_paths" -> dagPathsSql(),
    "graph_transition_entropy" -> transitionEntropySql,
    "graph_bipartite_project" -> bipartiteProjectSql,
    "graph_rich_club" -> richClubSql,
    "graph_viterbi_path" -> viterbiPathSql(),
    "graph_temporal_bfs" -> temporalBfsSql(),
    "graph_motif_census" -> motifCensusSql,
    "graph_topo_layers" -> topoLayersSql,
    "graph_assortativity" -> assortativitySql,
    "graph_ppr" -> pprSql(),
    "graph_ktruss" -> kTrussSql(),
    "graph_walks" -> walksSql(),
    "graph_clustering_coeff" -> clusteringCoeffSql,
    "graph_powerlaw_alpha" -> powerlawAlphaSql,
    "graph_eccentricity" -> eccentricitySql(),
    "graph_scc"         -> sccSql(),
    "graph_betweenness" -> betweennessSql(),
    "graph_closeness"   -> closenessSql(),
    "graph_harmonic"    -> harmonicSql(),
    "graph_modularity"  -> modularitySql(),
    "graph_link_predict" -> linkPredictSql,
    "graph_label_prop"  -> labelPropagationSql(),
    "graph_conductance" -> conductanceSql,
    "graph_bfs"         -> bfsSql,
    "graph_kcore"       -> kCoreSql,
    "graph_triangles"   -> trianglesSql,
    "graph_pagerank"    -> pageRankSql(),
    // bit-identical integer fixpoint through the shuffle-join plan
    "graph_pagerank_shuffle" -> pageRankSql(),
    "graph_transitions" -> transitionsSql,
    "graph_sssp"        -> ssspSql(),
    "graph_hits"        -> hitsSql(),
    "graph_degree_stats" -> degreeStatsSql)
}
