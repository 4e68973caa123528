package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, xxhash64}

import graft.schema.SchemaLoader

/** The benchmark's JVM side: one workload, one closed loop, one caller.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> [--corpus <dir>]
  * }}}
  *
  * Writes `<work>/result.json`: operations attempted and failed, the
  * problems found, and the end-to-end metrics (`--trace 0`) or the
  * per-layer metrics (`--trace 1`). `perfbench/run.py` builds this,
  * runs it and turns the file into the benchmark's output line.
  */
object Main {

  /** One operation: wall seconds less host steal ([[stealSecs]]),
    * process-CPU seconds, whether it was traced, and the problems its
    * checks found. */
  final case class Op(i: Int, name: String, secs: Double, cpuSecs: Double,
      traced: Boolean, problems: Seq[String])

  /** Gates of `gates_mix`: one per ops family, for the six largest
    * families by source size. Each is the middle name, in sorted order,
    * of the family's non-stream gates that have an oracle, stage no
    * scratch tables outside the run's directory, and took at most
    * 0.6 s at scale 0.02 when the mix was chosen; a gate whose DuckDB
    * oracle alone takes seconds (ts_kalman) gives way to the next name.
    * At the sf 0.1 corpus a pass of all six takes about 5 s. */
  val Gates: Seq[String] = Seq(
    "sim_hard_negatives", "ts_kaplan_meier", "eval_lc_winrate",
    "dedup_memorization_risk", "graph_kcore", "pack_padding_waste")

  /** Runs the workload and ends the JVM, so that a thread left behind
    * by Spark or the engine cannot keep the process alive. */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = new File(args("work")).getAbsoluteFile

    val spark = session(work)
    log("session up")
    val schemaFile = new File(work, "schema.json")
    Files.writeString(schemaFile.toPath, RefCsv.schemaJson)
    val schema = SchemaLoader.fromJsonFile(schemaFile.getPath)
    val w: Workload = workload match {
      case "ingest_bulk_checked" =>
        new IngestBulkChecked(spark, work, seed, schema, files = 2, rows = 12000)
      case "purge_retention" => new PurgeRetention(spark, work, seed, 50000L)
      case "gates_mix" => new GatesMix(spark, work, seed, args("corpus"), Gates)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val setupS = processCpuNs / 1e9
    log(f"ready: set-up cpu $setupS%.2f s")

    val tracer = new Tracer(spark)
    val canaryS = if (trace) { tracer.install(); canary(spark) } else 0.0
    val ops = loop(w, tracer, seconds, trace)
    val deferred = w.finalCheck(ops.size)
    val checked = ops.map(o => o.copy(problems =
      o.problems ++ deferred.getOrElse(o.i, Nil)))

    val metrics =
      if (!trace) endToEnd(checked, setupS)
      else {
        val t = tracer.finish()
        Files.writeString(new File(work, "spans.jsonl").toPath, t.spansJson)
        layerMetrics(w, t, checked, canaryS)
      }
    val failed = checked.filter(_.problems.nonEmpty)
    failed.foreach(o => System.err.println(
      s"[perfbench] ${o.name} FAILED: ${o.problems.mkString("; ")}"))
    val fields = Seq(
      "attempted" -> checked.size.toString,
      "failed" -> failed.size.toString,
      "failures" -> failed.map(o => Json.str(
        s"${o.name}: ${o.problems.take(3).mkString("; ")}")).mkString("[", ", ", "]"),
      "metrics" -> metrics.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
        .mkString("{", ", ", "}")) ++ w.report
    Files.writeString(new File(work, "result.json").toPath,
      fields.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ",\n", "}\n"))
    spark.stop()
  }

  def session(work: File): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.hadoop.fs.s3a.impl", classOf[LocalS3AFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The closed loop: operations back to back until `seconds` have
    * passed and a pass is complete. In a traced run, whole passes
    * alternate between traced and untraced, so the run measures its
    * own tracing overhead. */
  def loop(w: Workload, tracer: Tracer, seconds: Double,
      trace: Boolean): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val minOps = w.passSize * math.max(w.minPasses, if (trace) 2 else 1)
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds ||
        i % w.passSize != 0) {
      w.prepare(i)
      val traced = trace && (i / w.passSize) % 2 == 0
      tracer.enabled = traced
      val cpu0 = processCpuNs
      val steal0 = stealSecs
      val s = System.nanoTime()
      val error =
        try { tracer.span("op", w.opName(i))(w.execute(i, tracer)); Nil }
        catch { case e: Exception => Seq(e.toString) }
      val wall = (System.nanoTime() - s) / 1e9
      // Steal is clamped to [0, 0.9 wall]: a reading outside that is a
      // glitch of the counter, and the operation time stays positive.
      val secs = wall - math.min(math.max(stealSecs - steal0, 0.0), 0.9 * wall)
      val cpuSecs = (processCpuNs - cpu0) / 1e9
      tracer.enabled = false
      val problems = error ++ (try w.after(i)
        catch { case e: Exception => Seq(s"check failed: $e") })
      ops += Op(i, w.opName(i), secs, cpuSecs, traced, problems)
      log(f"op $i ${w.opName(i)} wall $secs%.3f s cpu $cpuSecs%.2f s" +
        (if (traced) " traced" else ""))
      i += 1
    }
    ops.toSeq
  }

  /** End-to-end metrics. Set-up is charged as the process CPU time
    * from JVM start to ready: on a shared virtual machine, CPU steal
    * comes in phases that stretch wall time by up to 2.5x for minutes,
    * and steal is not charged to the process. Operation latency and
    * throughput are wall time less the steal that fell inside each
    * operation. The typical latency is the geometric mean: in a mix of
    * six gates, the median falls between two gates' times and moves
    * with their extremes. */
  def endToEnd(ops: Seq[Op], setupS: Double): Seq[(String, Double)] = {
    val wall = ops.map(_.secs)
    Seq(
      "setup_s" -> setupS,
      "op_s_gmean" -> math.exp(wall.map(math.log).sum / wall.size),
      "ops_per_s" -> wall.size / wall.sum,
      "peak_rss_mb" -> peakRssMb)
  }

  def layerMetrics(w: Workload, t: Trace, ops: Seq[Op],
      canaryS: Double): Seq[(String, Double)] = {
    val spans = t.spansOf("op")
    val n = spans.size.toDouble
    val s = t.sums(t.jobsUnder(spans))
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val untraced = ops.filterNot(_.traced)
    val overhead = mean(ops.filter(_.traced).map(_.secs)) /
      mean(untraced.map(_.secs))
    (w.layers(t, spans) ++ Map(
      "spark.process_cpu_s" -> Stats.quantile(untraced.map(_.cpuSecs), 0.5),
      "spark.tasks" -> s.tasks / n,
      "spark.task_run_s" -> s.runMs / 1e3 / n,
      "spark.gc_s" -> s.gcMs / 1e3 / n,
      "spark.shuffle_bytes" -> s.shuffleBytes / n,
      "spark.spill_bytes" -> s.spillBytes / n,
      "host.canary_s" -> canaryS,
      "trace.overhead_ratio" -> overhead)).toSeq.sortBy(_._1)
  }

  /** The constant-cost codegen projection `graft.Bench` times: no I/O,
    * no shuffle. Timed after one warm-up call. */
  def canary(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, spark.sparkContext.defaultParallelism)
        .select(xxhash64(col("id")).as("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }

  /** A progress line on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f] $msg")

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process, all threads. */
  def processCpuNs: Long = osBean.getProcessCpuTime

  /** Host CPU steal so far (`/proc/stat`), in seconds per CPU of the
    * machine: how long a CPU that stayed busy would have waited for the
    * hypervisor. Subtracted from wall time, it takes out the stretch
    * that other tenants of the host cause. */
  def stealSecs: Double = {
    val lines = Files.readAllLines(Paths.get("/proc/stat")).asScala
    val cpus = lines.count(_.matches("cpu[0-9]+ .*"))
    val all = lines.head.trim.split("\\s+")
    if (all.length > 8 && cpus > 0) all(8).toDouble / ClockTicks / cpus
    else 0.0
  }

  /** `USER_HZ`, the unit of `/proc/stat`. */
  private val ClockTicks = 100.0

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
}

object Stats {

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
