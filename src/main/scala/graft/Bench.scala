package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},
  *   "setup_sec":{...},"failed":[...],"sf":...}`.
  *
  * Each query is materialized through the `noop` sink — unlike
  * `count()`, which lets Catalyst prune every column and skip the
  * projection work, noop evaluates the full output rows while writing
  * nothing, so timings reflect real operator cost.
  *
  * Measurement integrity (the round-1 failure mode was a harness bug,
  * not an engine bug — a mid-run SparkContext death turned ~45 tail
  * queries into 4–22 ms "instant failures" that best-of-N `min()`
  * then preferred):
  *   - a failed sample NEVER contributes a timing; per-query success
  *     flags ride with every sample and the min is over successes only;
  *   - a query with zero successful samples lands in `"failed"` and
  *     the process exits 1 (0 on full success) AFTER printing the
  *     JSON, so the driver always gets a parseable line;
  *   - `spark.catalog.clearCache()` after every query: several
  *     operators cache method-local frames (LSH signatures, label
  *     propagation); across 83 queries × 4 runs in one JVM the
  *     accumulated storage drove GC pressure high enough that the
  *     local executor missed heartbeats and the JVM died with
  *     ExecutorExitCode.HEARTBEAT_FAILURE (= the observed exit 56);
  *   - heartbeat/network tolerances raised ([[GraftSession]]): a
  *     32-thread local JVM under full GC can pause past the 10 s
  *     default; and
  *   - fixture-scaffolding time (scratch table copies, bucketed layout
  *     writes) is drained from [[Scaffold]] per query and reported as
  *     `setup_sec`, excluded from the query timing, so the baseline
  *     comparison measures the engine, not the test fixtures.
  */
object Bench {

  private case class Sample(engineSec: Double, setupSec: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("graft-bench",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def materialize(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()

    // Dev-only loop shortener: SPARK_GRAFT_BENCH_ONLY=q11,q23 times a
    // subset. The driver never sets it, so round benches stay complete.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // Warmup: run EVERY query once on the smallest corpus. Janino
    // compilation of each query's generated code + C2 JIT of the hot
    // methods cost ~100s spread over whichever queries run first in a
    // cold JVM (measured: the same query swings 1s↔57s run-to-run).
    // The generated code is identical across scale factors, so this
    // moves all of it outside the measured window; measurements below
    // are steady-state operator cost.
    val warmDir = "/root/testdata/sf0.001"
    names.foreach { name =>
      try materialize(SparkEntry.queries(name), warmDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    Scaffold.drain()

    // Best-of-N in SEPARATED passes: the host shows multi-second
    // noisy-neighbor stalls (the same query swings 2.7s↔81s
    // run-to-run with identical plans and <15% CPU), and a stall
    // burst can span consecutive runs — so sample each query once per
    // pass and take the min over the SUCCESSFUL samples, putting
    // minutes between any two samples of the same query.
    def sample(pass: Int): Map[String, Sample] =
      names.map { name =>
        Scaffold.drain() // don't let a previous query's setup bleed in
        val t0 = System.nanoTime()
        val ok =
          try { materialize(SparkEntry.queries(name), sfDir); true }
          catch { case e: Throwable =>
            System.err.println(
              s"[bench] pass $pass $name FAILED: ${e.getClass.getName}: " +
              s"${e.getMessage}")
            false
          }
        val total = (System.nanoTime() - t0) / 1e9
        val setup = Scaffold.drain()
        // Method-local .cache()s (LSH signatures, component labels)
        // are unreachable after materialization; drop them so storage
        // doesn't accumulate across 83 queries × N passes.
        spark.catalog.clearCache()
        name -> Sample(math.max(0.0, total - setup), setup, ok)
      }.toMap

    // Constant-cost canary (round-8 verdict task 3b): a fixed 1e8-row
    // codegen projection with NO I/O, NO shuffle, NO fixture — pure
    // CPU through the same noop sink. Its cost is invariant to every
    // engine change, so when a whole bench tail drifts together (the
    // r7→r8 driver read +23% on untouched queries), the canary says
    // in one glance whether the drift is the HOST/session (canary
    // moved too) or the ENGINE (canary flat). Timed once per pass,
    // reported per-pass + min alongside the query timings.
    import org.apache.spark.sql.functions.{col, xxhash64}
    def canary(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 100000000L, 1L,
          spark.sparkContext.defaultParallelism)
        .select(xxhash64(col("id")).as("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    canary() // JIT warm, outside the measured window

    val gitSha =
      try {
        val pr = new ProcessBuilder("git", "rev-parse", "HEAD")
          .redirectErrorStream(true).start()
        val out = new String(pr.getInputStream.readAllBytes, "UTF-8").trim
        if (pr.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out
        else "unknown"
      } catch { case _: Throwable => "unknown" }

    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val canaries = new scala.collection.mutable.ArrayBuffer[Double]
    val passes = (1 to nPasses).map { p =>
      canaries += canary()
      sample(p)
    }

    val failed = names.filter(n => !passes.exists(_(n).ok))
    val results = names.filterNot(failed.contains).map { name =>
      val good = passes.map(_(name)).filter(_.ok)
      val sec = good.map(_.engineSec).min
      val setup = good.map(_.setupSec).min
      System.err.println(
        f"[bench] $name%-24s $sec%8.2fs (+ setup $setup%5.2fs)")
      (name, sec, setup)
    }
    failed.foreach(n => System.err.println(s"[bench] $n: ALL PASSES FAILED"))

    val qs = results.map { case (k, v, _) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val setups = results.filter(_._3 > 0.001)
      .map { case (k, _, su) => "\"" + k + f"""\":$su%.3f""" }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val canaryMin = if (canaries.nonEmpty) canaries.min else 0.0
    val canaryJson = canaries.map(c => f"$c%.3f").mkString("[", ",", "]")
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"setup_sec":$setups,"canary_sec":$canaryMin%.3f,"canary_passes":$canaryJson,"failed":$failedJson,"sf":"$sfDir","gates":${names.size},"passes":$nPasses,"git_sha":"$gitSha"}"""
    println(line)
    // Machine-readable close artifact (round-10 verdict task 1): the
    // driver's BENCH_rN.json keeps only a 2000-char stdout tail, so
    // round-over-round per-query comparison was recoverable for just
    // 7 of 502 queries. SPARK_GRAFT_BENCH_OUT persists the FULL
    // per-query JSON (best-of-N sec, setup_sec, canary passes, gate
    // count, tree SHA) to a file the repo checks in per close.
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] close artifact written to $p")
    }
    spark.stop()
    // Explicit exit: non-zero iff a query produced no valid sample —
    // never let a lingering non-daemon thread or shutdown-hook race
    // turn a good run into a bad exit code (round 1 lost its whole
    // bench to rc!=0).
    sys.exit(if (failed.nonEmpty) 1 else 0)
  }
}
