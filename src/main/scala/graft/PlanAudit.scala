package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump formatted physical plans for selected queries and
  * flag scale smells — missing filter pushdown, unexpected full-column
  * scans, non-broadcast joins of tiny dimensions, missing whole-stage
  * codegen.
  *
  * Usage: runMain graft.PlanAudit <sfDir> [q1,q2,... | all] [--strict | --write]
  *
  * The interpreted-expression inventory (round-10 verdict task 2 →
  * round 11): `--write` snapshots every gate's CodegenFallback
  * expression set to [[InventoryPath]]; `--strict` re-scans and FAILS
  * (exit 1) on any (gate, expression) pair absent from the snapshot —
  * so a per-element HOF creeping into a currently-clean gate is a
  * close-protocol failure, not a bench diff rounds later. Pairs that
  * DISAPPEAR are reported as stale (exit 0; refresh with --write).
  * Exemption path: a genuinely intended new interpreted expression is
  * admitted by re-running `--write` in the same commit and justifying
  * the tolerance in the gate's docstring (the once-per-row small-array
  * HOF class); COVERAGE.md's header records the inventory size.
  *
  * ==Coverage blind spot (structural — do NOT hand-patch the file)==
  * The scanner records what the gate's FINAL `executedPlan` shows. A
  * gate whose hot frames are `localCheckpoint`'d (e.g. the HNSW beam:
  * the graph/frontier construction jobs run eagerly, and the final
  * plan reads their materialized RDDs) truncates its plan at the
  * checkpoint, so interpreted expressions inside construction jobs
  * are INVISIBLE to `--write`/`--strict` — measured live in round 11:
  * `sim_hnsw_search`'s final plan shows zero CodegenFallback while
  * its pre-checkpoint build frames carry the usual vector-HOF class.
  * Consequences: (a) never hand-add entries for checkpointed frames —
  * `--write` could not reproduce them and stops being idempotent;
  * (b) a checkpointed gate's construction expressions are pinned by
  * SPEC instead (RoundTwelvePlanSpec recomputes one such gate's
  * pre-checkpoint frames and asserts their fallback class directly).
  */
object PlanAudit {
  val InventoryPath = "tools/fallback_inventory.tsv"

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val pos = args.filterNot(_.startsWith("--"))
    val strict = flags.contains("--strict")
    val write = flags.contains("--write")
    val sfDir = pos.lift(0).getOrElse("/root/testdata/sf0.01")
    val only = pos.lift(1).filterNot(_ == "all").map(_.split(",").toSet)
    val spark = GraftSession.builder("graft-plan-audit", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val inventory = scala.collection.mutable.TreeMap.empty[String, Seq[String]]
    var failures = 0
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          println(s"\n===== $name =====")
          println(plan)
          val smells = Seq(
            "PushedFilters: []" -> "no pushed filters on a scan",
            "SortMergeJoin" -> "sort-merge join (check if broadcast fits)",
            "CartesianProduct" -> "cartesian product",
            "BatchEvalPython" -> "python UDF in plan")
            .collect { case (pat, msg) if plan.contains(pat) => msg }
          if (smells.nonEmpty) println(s"[smells] $name: ${smells.mkString("; ")}")
          // Informational (NOT part of the pinned [smells] contract):
          // interpreted expressions in the plan. Benign when the HOF
          // runs once per row over a small array (the tokenizer-filter
          // class); a per-element/per-char fallback in a hot loop is
          // the matrix-profile/cdc-chunks 5-10x cost class.
          def fbOf(p: org.apache.spark.sql.execution.SparkPlan)
              : Seq[String] = p.collect {
            // AQE wrapper hides its plan from TreeNode.collect —
            // recurse explicitly or the scan is vacuously empty;
            // subquery plans hang off expressions, not the operator
            // tree, so scan node.subqueries recursively too
            case a: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => fbOf(a.executedPlan)
            case n => n.expressions.flatMap(_.collect {
              case e: org.apache.spark.sql.catalyst.expressions
                  .codegen.CodegenFallback => e.prettyName
            }).toSeq ++ n.subqueries.flatMap(fbOf)
          }.flatten
          val fallbacks =
            fbOf(df.queryExecution.executedPlan).distinct.sorted
          inventory(name) = fallbacks
          if (fallbacks.nonEmpty)
            println(s"[fallback] $name: ${fallbacks.mkString(", ")}")
        } catch { case e: Throwable =>
          failures += 1
          println(s"===== $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()

    def pairs(m: collection.Map[String, Seq[String]]): Set[(String, String)] =
      m.toSeq.flatMap { case (g, es) => es.map(g -> _) }.toSet
    if (write) {
      // Subset-aware merge (round-11 ADVICE): a --write with a gate
      // subset must not truncate the full inventory — fresh entries
      // REPLACE the scanned gates' snapshot rows (including deleting
      // a scanned gate that went clean), every unscanned gate's row
      // is carried over verbatim.
      val snapFile = java.nio.file.Paths.get(InventoryPath)
      val carried: Seq[(String, Seq[String])] =
        if (only.isDefined && java.nio.file.Files.exists(snapFile))
          scala.io.Source.fromFile(snapFile.toFile, "UTF-8")
            .getLines().filterNot(l => l.startsWith("#") || l.isEmpty)
            .map { l =>
              val Array(g, es) = l.split("\t", 2)
              g -> es.split(",").toSeq
            }.filterNot { case (g, _) => inventory.contains(g) }.toSeq
        else Seq.empty
      val merged = (carried ++ inventory.toSeq).sortBy(_._1)
      val lines = merged.collect {
        case (g, es) if es.nonEmpty => s"$g\t${es.mkString(",")}"
      }
      java.nio.file.Files.write(snapFile,
        (Seq("# gate\tCodegenFallback expressions (sorted) — see " +
          "PlanAudit Scaladoc for the exemption path") ++ lines)
          .mkString("", "\n", "\n").getBytes("UTF-8"))
      println(s"[inventory] wrote ${lines.size} gates with fallbacks " +
        s"(${inventory.size} scanned, ${carried.count(_._2.nonEmpty)} " +
        s"carried) to $InventoryPath")
    }
    if (strict) {
      val snapFile = java.nio.file.Paths.get(InventoryPath)
      require(java.nio.file.Files.exists(snapFile),
        s"--strict needs $InventoryPath; generate with --write")
      val snap = scala.io.Source.fromFile(snapFile.toFile, "UTF-8")
        .getLines().filterNot(l => l.startsWith("#") || l.isEmpty)
        .map { l =>
          val Array(g, es) = l.split("\t", 2)
          g -> es.split(",").toSeq
        }.toMap
      // Only diff gates actually scanned this run (subset runs stay
      // usable); a NEW pair is a hard failure, a vanished pair is
      // stale-snapshot info.
      val scanned = inventory.keySet
      val fresh = pairs(inventory) -- pairs(snap)
      val stale = pairs(snap.view.filterKeys(scanned).toMap) -- pairs(inventory)
      stale.toSeq.sorted.foreach { case (g, e) =>
        println(s"[strict] stale snapshot entry (refresh with --write): $g: $e")
      }
      fresh.toSeq.sorted.foreach { case (g, e) =>
        println(s"[strict] NEW interpreted expression: $g: $e")
      }
      if (fresh.nonEmpty || failures > 0) {
        println(s"[strict] FAIL: ${fresh.size} new gate-expression " +
          s"pair(s), $failures gate failure(s)")
        sys.exit(1)
      }
      println(s"[strict] OK: ${scanned.size} gates scanned, no new " +
        "interpreted expressions")
    }
    if (failures > 0) sys.exit(1)
  }
}
