package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `gates_mix`: a fixed, family-stratified set of `SparkEntry.queries`
  * gates over a generated corpus, each materialized through the `noop`
  * sink as `graft.Bench` does. One operation is one gate; a pass runs
  * every gate once, in an order drawn from the seed.
  *
  * During set-up, each gate's output is written once, to
  * `gates_out/<name>` with `oracle_sql.json` beside it, for the DuckDB
  * comparison that runs after the JVM exits.
  */
final class GatesMix(spark: SparkSession, work: File, seed: Long,
    corpus: String, gates: Seq[String]) extends Workload {

  private val queries = SparkEntry.queries
  private val out = Dirs.dir(work, "gates_out")
  private val runs = mutable.LinkedHashMap(gates.map(_ -> 0): _*)
  private var pass = -1
  private var order: Seq[String] = Nil

  override def passSize: Int = gates.size

  /** Three passes: one gate run twice in a JVM differed by up to 40 %,
    * so every gate is measured three times. */
  override def minPasses: Int = 3

  private def gate(i: Int): String = {
    if (i / passSize != pass) {
      pass = i / passSize
      order = new scala.util.Random(seed * 1000003L + pass).shuffle(gates)
    }
    order(i % passSize)
  }

  def opName(i: Int): String = gate(i)

  /** Gates whose output pass failed, with the error. */
  private val broken = mutable.Map.empty[String, String]

  /** Two untimed passes: class loading, JIT and codegen for every gate.
    * After one pass the next still ran slower than later ones, while
    * the JIT compiled planner code. The first pass goes to the noop
    * sink; the second writes each gate's output to `gates_out/<name>`
    * for the oracle comparison. */
  def setup(): Unit = {
    for (g <- gates) {
      try materialize(g)
      catch { case e: Exception => System.err.println(s"[perfbench] warm-up $g: $e") }
      spark.catalog.clearCache()
    }
    Main.log("warm-up pass done")
    for (g <- gates) {
      try queries(g)(spark, corpus).coalesce(1).write.mode("overwrite")
        .parquet(new File(out, g).getPath)
      catch { case e: Exception => broken(g) = s"$g: output pass failed: $e" }
      spark.catalog.clearCache()
    }
    val oracle = SparkEntry.oracleSql
    Files.writeString(new File(out, "oracle_sql.json").toPath,
      gates.filter(oracle.contains)
        .map(g => s"${Json.str(g)}: ${Json.str(oracle(g))}")
        .mkString("{", ",\n", "}"))
  }

  private def materialize(g: String, t: Tracer = new Tracer(spark)): Unit = {
    val df = t.span("gate", "build")(queries(g)(spark, corpus))
    t.span("gate", "materialize")(
      df.write.format("noop").mode("overwrite").save())
  }

  def execute(i: Int, t: Tracer): Unit = {
    val g = gate(i)
    runs(g) += 1
    materialize(g, t)
  }

  override def after(i: Int): Seq[String] = {
    spark.catalog.clearCache()
    Nil
  }

  /** A gate whose output pass failed fails all its operations. */
  override def finalCheck(ops: Int): Map[Int, Seq[String]] =
    (0 until ops).flatMap(i => broken.get(gate(i)).map(i -> Seq(_))).toMap

  def layers(trace: Trace, ops: Seq[Span]): Map[String, Double] = {
    val n = ops.size.toDouble
    Map(
      "gate.plan_ms" -> ops.map(trace.planMs).sum / n,
      "gate.exec_s" ->
        ops.map(s => s.duration - trace.driverGap(s)).sum / 1e9 / n,
      "gate.jobs" -> trace.jobsUnder(ops).size / n,
      "gate.driver_gap_s" -> ops.map(trace.driverGap).sum / 1e9 / n)
  }

  override def report: Map[String, String] = Map("gate_runs" ->
    runs.map { case (g, k) => s"${Json.str(g)}: $k" }.mkString("{", ", ", "}"))
}
