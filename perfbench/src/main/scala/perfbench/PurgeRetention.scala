package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.Purge
import graft.sources.ParquetSink

/** `purge_retention`: each operation is one `Purge.Engine.run` over a
  * fixed config batch, plus a dry-run engine over one more config, on
  * tables written by `ParquetSink` (one plain, one Hive-partitioned by
  * month). The tables are restored from pristine copies before every
  * operation, outside the timed part.
  *
  * Table rows are pure functions of `(seed, id)`: Spark evaluates them
  * as SQL when writing, and [[expected]] evaluates the same arithmetic
  * in Scala, so the checks do not depend on the engine's answer. The
  * seed enters the arithmetic reduced to [[offset]], so that no seed
  * overflows it (ANSI SQL would fail the write).
  */
final class PurgeRetention(spark: SparkSession, work: File, seed: Long,
    rows: Long) extends Workload {
  import PurgeRetention._

  private val pristine = Dirs.dir(work, "purge/pristine")
  private val live = Dirs.dir(work, "purge/live")
  private val small = rows / 4
  private val offset = Math.floorMod(seed, SeedRange)
  private var audits: Seq[Purge.AuditEvent] = Nil
  private val partitionsDropped = scala.collection.mutable.Map.empty[Int, Int]

  private val sizes = Map(Ledger -> rows, Monthly -> rows,
    Guarded -> small, SqlDelete -> small, Truncated -> small)

  /** The batch: a ~10 % criteria delete (anti-rewrite + TableSwap), a
    * partition-aligned criteria delete (directory drops), a guard
    * abort, a SQL `DELETE ... WHERE` and a `TRUNCATE`. */
  private val batch = Seq(
    Purge.PurgeConfig("bench", Ledger, "CRITERIA", "bucket < 10", rows),
    Purge.PurgeConfig("bench", Monthly, "CRITERIA", "month <= 2", rows),
    Purge.PurgeConfig("bench", Guarded, "CRITERIA", "bucket < 50", 100L),
    Purge.PurgeConfig("bench", SqlDelete, "SQL",
      s"DELETE FROM $SqlDelete WHERE amount < 100000", rows),
    Purge.PurgeConfig("bench", Truncated, "SQL", s"TRUNCATE TABLE $Truncated",
      rows))
  private val dryRun = Seq(
    Purge.PurgeConfig("bench", Ledger, "CRITERIA", "bucket >= 90", rows))

  def opName(i: Int): String = s"batch$i"

  /** At least three operations, so that one slow one does not decide
    * the run. */
  override def minPasses: Int = 3

  private def table(name: String) =
    spark.range(sizes(name)).selectExpr(
      "id",
      s"CAST(pmod(id * 2654435761 + $offset, 100) AS INT) AS bucket",
      s"pmod(id * 40503 + $offset * 7, 1000000) AS amount",
      s"CAST(1 + pmod(id * 31 + $offset, 12) AS INT) AS month",
      "concat('n', CAST(id % 97 AS STRING)) AS note")

  def setup(): Unit = {
    for (name <- sizes.keys) {
      val path = new File(pristine, name).getPath
      if (name == Monthly)
        ParquetSink.writePartitioned(table(name), path, Seq("month"))
      else ParquetSink.write(table(name), path)
    }
    // Two warm-up operations: after one, the next still ran slower.
    for (_ <- 1 to 2) {
      prepare(-1)
      execute(-1, new Tracer(spark))
    }
  }

  override def prepare(i: Int): Unit = {
    Dirs.deleteTree(live.toPath)
    Dirs.copyTree(pristine.toPath, live.toPath)
  }

  def execute(i: Int, t: Tracer): Unit = {
    val resolver = Purge.DirResolver(live.getPath)
    val engine = new Purge.Engine(spark, resolver)
    val dry = new Purge.Engine(spark, resolver, dryRun = true)
    audits =
      if (t.enabled)
        batch.flatMap(c => t.span("purge", c.tableName)(engine.run(Seq(c)))) ++
          dryRun.flatMap(c => t.span("purge", "dry_run")(dry.run(Seq(c))))
      else engine.run(batch) ++ dry.run(dryRun)
  }

  /** Survivors match the expectation, the guarded table is unchanged,
    * exactly the non-matching partitions remain, and the audit trail
    * records the abort and the dry run. */
  override def after(i: Int): Seq[String] = {
    val problems = Seq.newBuilder[String]
    for ((name, want) <- survivors) {
      val got = spark.read.parquet(new File(live, name).getPath)
        .agg(count(lit(1)), coalesce(sum("id"), lit(0L)),
          coalesce(sum("amount"), lit(0L)))
        .collect().head
      val have = (got.getLong(0), got.getLong(1), got.getLong(2))
      if (have != want)
        problems += s"$name: (rows, sum id, sum amount) = $have, expected $want"
    }
    val months = new File(live, Monthly).list().filter(_.startsWith("month="))
      .map(_.stripPrefix("month=").toInt).sorted.toSeq
    partitionsDropped(i) = 12 - months.size
    if (months != (3 to 12)) problems += s"$Monthly: partitions left $months"
    if (!audits.exists(_.logMessage.startsWith("ABORT")))
      problems += s"$Guarded: no guard abort in the audit trail"
    if (!audits.exists(_.logMessage.startsWith("DRY RUN")))
      problems += "no dry-run entry in the audit trail"
    problems.result()
  }

  /** (rows, sum of id, sum of amount) that each table must hold after
    * a batch. */
  private lazy val survivors: Seq[(String, (Long, Long, Long))] =
    Survivors.map { case (name, keep) => name -> expected(name, keep) }

  /** (rows, sum of id, sum of amount) over the rows of `name` that
    * `keep` retains. */
  private def expected(name: String, keep: Row => Boolean)
      : (Long, Long, Long) = {
    var n, ids, amounts = 0L
    var id = 0L
    while (id < sizes(name)) {
      val r = Row(id, offset)
      if (keep(r)) { n += 1; ids += id; amounts += r.amount }
      id += 1
    }
    (n, ids, amounts)
  }

  def layers(trace: Trace, ops: Seq[Span]): Map[String, Double] = {
    val n = ops.size.toDouble
    val configs = trace.spansOf("purge")
    val jobs = trace.jobsUnder(configs)
    val (writes, scans) = jobs.partition(_.writes)
    def secs(js: Seq[JobRec]) = js.map(j => j.end - j.start).sum / 1e9 / n
    val deleted = survivors.map { case (name, kept) =>
      sizes(name) - kept._1 }.sum
    Map(
      "purge.scan_jobs_per_config" -> scans.size / configs.size.toDouble,
      "purge.count_jobs_s" -> secs(scans),
      "purge.write_jobs_s" -> secs(writes),
      "purge.rows_scanned_per_row_deleted" ->
        trace.sums(jobs).inRecords / (deleted * n),
      "purge.partitions_dropped" -> ops.map(s =>
        partitionsDropped(s.name.stripPrefix("batch").toInt)).sum / n)
  }
}

object PurgeRetention {
  val Ledger = "ledger"
  val Monthly = "ledger_monthly"
  val Guarded = "ledger_guarded"
  val SqlDelete = "ledger_sql"
  val Truncated = "ledger_trunc"

  /** Seeds are reduced modulo this prime before they enter a row. */
  val SeedRange = 1000003L

  /** One generated row, mirroring the SQL in `table`. */
  final case class Row(id: Long, offset: Long) {
    def bucket: Long = Math.floorMod(id * 2654435761L + offset, 100L)
    def amount: Long = Math.floorMod(id * 40503L + offset * 7, 1000000L)
    def month: Long = 1 + Math.floorMod(id * 31L + offset, 12L)
  }

  /** Which rows of each table survive one batch. */
  val Survivors: Seq[(String, Row => Boolean)] = Seq(
    Ledger -> (_.bucket >= 10),
    Monthly -> (_.month > 2),
    Guarded -> (_ => true),
    SqlDelete -> (_.amount >= 100000),
    Truncated -> (_ => false))
}
