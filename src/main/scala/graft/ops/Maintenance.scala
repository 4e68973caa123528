package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Scaffold, Tables}
import graft.Scaffold.scratch
import graft.streaming.EventStreams
import graft.sources.ParquetSink

/** Table-maintenance operators for plain-parquet lakes: CDC-style
  * upsert (MERGE with updates-win semantics) and small-file
  * compaction. Both are copy-on-write jobs — the only transactional
  * primitive plain parquet offers — kept as single declarative plans
  * so Catalyst/AQE size the shuffles.
  *
  * Scale: the upsert anti-join shuffles on the merge key; when the
  * base table is bucketed on that key (`Bucketing`) the exchange on
  * the base side disappears, and with key-clustered layout
  * (`ZOrder`/range partitioning) a production variant rewrites only
  * the files whose key ranges intersect the updates — the mechanism
  * behind Delta/Iceberg MERGE. Compaction sizes output files from
  * the actual input byte size, not a fixed partition count, so the
  * same code yields ~`targetBytes` files at any scale.
  */
object Maintenance {

  /** MERGE: rows of `updates` replace base rows with the same key;
    * unmatched base rows are kept; brand-new keys are inserted.
    * Precondition: `updates` has at most one row per key (enforce
    * upstream with dedup — this keeps the operator a pure two-branch
    * union, no window shuffle). */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String])
      : DataFrame = {
    val cols = base.columns.toSeq.map(col)
    updates.select(cols: _*)
      .unionByName(base.join(updates.select(keys.map(col): _*).distinct(),
        keys, "left_anti"))
  }

  /** Compact a parquet directory to ~targetBytes output files: count
    * comes from the real input size, so small-file storms collapse to
    * a bounded file count regardless of how many inputs exist. */
  def compact(spark: SparkSession, srcDir: String, dstDir: String,
      targetBytes: Long = 128L * 1024 * 1024): DataFrame = {
    val fs = new Path(srcDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(new Path(srcDir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(srcDir)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(dstDir)
    spark.read.parquet(dstDir)
  }

  /** MERGE one change batch into a parquet table path: upsert, write
    * to a staging dir, swap atomically (same pattern as the purge
    * engine's anti-rewrite). The staging write materializes the merge
    * before the old table is dropped. */
  def applyBatch(batch: DataFrame, baseDir: String, keys: Seq[String])
      : Unit = {
    val spark = batch.sparkSession
    val merged = upsert(spark.read.parquet(baseDir), batch, keys)
    val staging = baseDir + ".staging"
    merged.write.mode("overwrite").parquet(staging)
    TableSwap.swapIn(spark, baseDir, staging) // crash-safe, no loss window
  }

  /** Apply a CDC change stream to a base parquet table: foreachBatch
    * MERGEs each micro-batch (updates win) and swaps the table dir.
    * The checkpoint gives exactly-once batch delivery; re-applying a
    * replayed batch is idempotent because upsert is deterministic on
    * the keys. Precondition (as for `upsert`): one row per key per
    * batch. */
  def applyCdcStream(changes: DataFrame, baseDir: String,
      keys: Seq[String], checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch, baseDir, keys)
      }
      .start()

  /** Build a type-2 slowly-changing dimension from a change log: one
    * row per change with `effective_from` = the change timestamp and
    * `effective_to` = the key's next change (NULL while current).
    * One window shuffle on the key; `tieBreak` totalizes the order so
    * same-timestamp changes version deterministically. */
  def scd2FromLog(log: DataFrame, key: String, ts: String,
      tieBreak: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(ts), col(tieBreak))
    log.withColumn("effective_from", col(ts))
      .withColumn("effective_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("effective_to").isNull)
  }

  // -------------------------------------------------------------- //

  private def dsum(c: org.apache.spark.sql.Column, scale: Int = 2)
      : org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** Gate: upsert a deterministic batch of corrections (every 7th
    * order re-priced at 0.9× and re-flagged 'R') into orders, then
    * aggregate the merged table. The oracle states the same merge as
    * UNION ALL + NOT IN — value equality proves replace/keep/insert
    * semantics. */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val updates = o.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 0.9)
      .withColumn("o_orderstatus", lit("R"))
    // Sum at scale 4: the 0.9× product carries 3 true decimals, so a
    // scale-2 cast rounds off-grid doubles and Spark (exact-expansion
    // HALF_UP) and DuckDB (digit-shift) disagree on ~2% of rows; at
    // scale 4 every value sits ON the decimal grid and both engines
    // recover it exactly regardless of rounding mode.
    upsert(o, updates, Seq("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 4).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  val mergeUpsertSql: String =
    """WITH updates AS (
      |  SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
      |    o_totalprice * 0.9 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |merged AS (
      |  SELECT * FROM updates
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    o_orderdate, o_orderpriority
      |  FROM orders
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates))
      |SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM merged
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Gate: a REAL two-micro-batch CDC stream (file source →
    * foreachBatch MERGE → atomic table swap, exactly the production
    * wiring) applied to a scratch copy of orders. Batch 1 re-prices
    * every 11th order at 0.8×; batch 2 every 13th at 1.1× — overlap
    * keys must take batch 2 (updates win, batches in order). The
    * oracle states the same two-layer merge declaratively; equality
    * proves ordering, override, and swap semantics of the streaming
    * path itself, not a batch stand-in. */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    val baseDir = scratch(dir, "cdc/orders")
    val o = Tables.orders(s, dir)
    def batch(mod: Int, factor: Double, status: String): DataFrame =
      o.filter(col("o_orderkey") % mod === 0)
        .withColumn("o_totalprice", col("o_totalprice") * factor)
        .withColumn("o_orderstatus", lit(status))
    Scaffold.setup(ParquetSink.write(o, baseDir))
    EventStreams.replay("cdc_" + Scaffold.tag(dir),
        scratch(dir, "cdc/changes"),
        Seq(batch(11, 0.8, "U1"), batch(13, 1.1, "U2"))) { (stream, ck) =>
      applyCdcStream(stream, baseDir, Seq("o_orderkey"), ck)
    }
    s.read.parquet(baseDir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 4).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Exactly-once sink under AT-LEAST-ONCE delivery: a foreachBatch
    * sink that commits each micro-batch's aggregate into a
    * `batch=<id>`-keyed ledger via write-to-temp + atomic rename,
    * and SKIPS any batch id already committed. The gate drives two
    * real micro-batches through the stream, then REDELIVERS both
    * batch payloads out-of-band (the retry a crashed driver or a
    * replayed offset range produces) — the idempotence check must
    * swallow them, or every count doubles and the oracle (which
    * states the exactly-once totals straight from the source
    * relation) hash-fails.
    *
    * Scale: the ledger commit is O(aggregate) per batch; the
    * idempotence test is one directory existence probe — the
    * transactional-sink pattern every exactly-once Spark pipeline
    * uses against object stores. */
  def idempotentSink(s: SparkSession, dir: String): DataFrame = {
    val ledger = scratch(dir, "idem/ledger")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    def half(parity: Int): DataFrame =
      ev.filter(col("event_id") % 2 === parity)
    def commit(batch: DataFrame, id: Long): Unit = {
      val outP = new org.apache.hadoop.fs.Path(s"$ledger/batch=$id")
      val fs = outP.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(outP)) { // already committed -> idempotent skip
        val tmp = new org.apache.hadoop.fs.Path(s"$ledger/.tmp_$id")
        batch.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            (sum(col("value").cast(DecimalType(18, 4))) * 10000)
              .cast(LongType).as("v_e4"))
          .write.mode("overwrite").parquet(tmp.toString)
        fs.mkdirs(outP.getParent)
        require(fs.rename(tmp, outP), s"ledger commit rename failed")
      }
    }
    Scaffold.setup(Scaffold.rm(s, ledger))
    EventStreams.replay("idem_" + Scaffold.tag(dir),
        scratch(dir, "idem/src"), Seq(half(0), half(1))) { (stream, ck) =>
      stream.writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .foreachBatch { (b: DataFrame, id: Long) => commit(b, id) }
        .start()
    }
    // at-least-once retries: redeliver BOTH batch payloads
    commit(half(0), 0L)
    commit(half(1), 1L)
    s.read.parquet(ledger)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("v_e4")).as("v_e4"),
        countDistinct(col("batch")).as("n_batches"))
      .orderBy(col("event_type"))
  }

  val idempotentSinkSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT)
      |    AS v_e4,
      |  COUNT(DISTINCT event_id % 2) AS n_batches
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val cdcApplySql: String =
    """WITH b1 AS (
      |  SELECT o_orderkey, o_custkey, 'U1' AS o_orderstatus,
      |    o_totalprice * 0.8 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 11 = 0),
      |b2 AS (
      |  SELECT o_orderkey, o_custkey, 'U2' AS o_orderstatus,
      |    o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 13 = 0),
      |merged AS (
      |  SELECT * FROM b2
      |  UNION ALL
      |  SELECT * FROM b1
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b2)
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    o_orderdate, o_orderpriority
      |  FROM orders
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b1)
      |    AND o_orderkey NOT IN (SELECT o_orderkey FROM b2))
      |SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM merged
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Gate: shatter lineitem into 64 small files, compact to ~8 MiB
    * targets, aggregate the compacted copy. The oracle aggregates the
    * ORIGINAL table — equality proves compaction is value-preserving.
    */
  /** Partition-layout evolution: rewrite events from its flat layout
    * into a `month=`-partitioned directory tree (the lakehouse
    * "repartition the table as it grows" migration), then prove the
    * new layout both preserves content (per-month counts + exact
    * value sums reconciled against the source relation by the
    * oracle) and actually partitions (one `month=` directory per
    * month — read back through the partitioned reader).
    *
    * Scale: the rewrite is one shuffle-free pass (partitionBy on
    * write splits files per input task); downstream month-predicate
    * scans prune whole directories — the point of the migration.
    * MaintenanceSpec asserts the pruned-scan plan carries the month
    * PartitionFilter. */
  def partitionEvolution(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "ev_by_month")
    Tables.events(s, dir)
      .withColumn("month", date_format(col("ts"), "yyyy-MM"))
      .write.partitionBy("month").mode("overwrite").parquet(out)
    s.read.parquet(out)
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("value").cast(DecimalType(18, 4))) * 10000)
          .cast(LongType).as("value_e4"))
      .orderBy(col("month"))
  }

  val partitionEvolutionSql: String =
    """SELECT strftime(ts, '%Y-%m') AS month, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT)
      |    AS value_e4
      |FROM events GROUP BY strftime(ts, '%Y-%m')
      |ORDER BY month""".stripMargin

  def compactRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val src = scratch(dir, "compact_src")
    val dst = scratch(dir, "compact_out")
    // Fixture: deliberately shatter the input into 64 small files. The
    // operator under test is `compact`, not this scaffolding write.
    graft.Scaffold.setup {
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        .repartition(64)
        .write.mode("overwrite").parquet(src)
    }
    compact(s, src, dst, targetBytes = 8L * 1024 * 1024)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  val compactRoundtripSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Gate: SCD2 over orders-as-change-log (each order "changes" its
    * customer's priority attribute). The oracle is the same LEAD
    * window in DuckDB. */
  def scd2Build(s: SparkSession, dir: String): DataFrame =
    scd2FromLog(Tables.orders(s, dir),
        key = "o_custkey", ts = "o_orderdate", tieBreak = "o_orderkey")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
        col("effective_from"), col("effective_to"), col("is_current"))
      .orderBy(col("o_custkey"), col("effective_from"), col("o_orderkey"))

  val scd2BuildSql: String =
    """SELECT o_custkey, o_orderkey, o_orderpriority,
      |  o_orderdate AS effective_from,
      |  LEAD(o_orderdate) OVER w AS effective_to,
      |  (LEAD(o_orderdate) OVER w IS NULL) AS is_current
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, effective_from, o_orderkey""".stripMargin

  /** Row-level diff of two table snapshots by primary key: `added`
    * (key only in new), `deleted` (key only in old), `changed` (key
    * in both, any non-key column differs). Each side is first reduced
    * to (key, xxhash64 of the non-key struct), so the full-outer join
    * that classifies every key shuffles ~24 B/row instead of full
    * payloads — at 100 TB, diffing two generations (e.g. the
    * [[graft.ops.TableSwap]] retention ring's `.bak0` vs current)
    * moves keys and hashes, never rows. Unchanged keys are dropped
    * before the result leaves the join. */
  def snapshotDiff(old: DataFrame, neu: DataFrame,
      keys: Seq[String]): DataFrame = {
    def sig(df: DataFrame, hName: String) = {
      // non-key columns hashed in NAME order, so two generations that
      // merely reordered columns do not classify every row as changed
      val nonKey = df.columns.filterNot(keys.contains).sorted.map(col).toSeq
      df.select(keys.map(col) :+ xxhash64(struct(nonKey: _*)).as(hName): _*)
    }
    sig(old, "_ho").join(sig(neu, "_hn"), keys, "full_outer")
      .withColumn("change",
        when(col("_ho").isNull, lit("added"))
          .when(col("_hn").isNull, lit("deleted"))
          .when(col("_ho") =!= col("_hn"), lit("changed")))
      .filter(col("change").isNotNull)
      .select(keys.map(col) :+ col("change"): _*)
  }

  /** Gate: mint a second lineitem generation on disk — every 31st
    * order deleted, every remaining 17th re-quantified, every 29th
    * re-inserted under a shifted key — then diff the two parquet
    * snapshots. The oracle re-derives the classification from the
    * mutation predicates alone. */
  def snapshotDiffGate(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val newSnap = scratch(dir, "snapshot_new")
    graft.Scaffold.setup {
      li.filter(col("l_orderkey") % 31 =!= 0)
        .withColumn("l_quantity",
          when(col("l_orderkey") % 17 === 0, col("l_quantity") + 1)
            .otherwise(col("l_quantity")))
        .unionByName(li.filter(col("l_orderkey") % 29 === 0)
          .withColumn("l_orderkey", col("l_orderkey") + 1000000000L))
        .write.mode("overwrite").parquet(newSnap)
    }
    // (l_orderkey, l_linenumber) is NOT unique in this corpus — nor
    // is the 4-column tuple at every scale factor; the 5-column key
    // below is distinct at sf0.001/0.01/0.1 (and l_extendedprice is
    // never a mutated column here, so it is key-stable).
    snapshotDiff(li, s.read.parquet(newSnap),
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_extendedprice"))
      .orderBy(col("change"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
  }

  val snapshotDiffSql: String =
    """SELECT * FROM (
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |         l_extendedprice, 'deleted' AS change
      |  FROM lineitem WHERE l_orderkey % 31 = 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |         l_extendedprice, 'changed'
      |  FROM lineitem WHERE l_orderkey % 31 <> 0 AND l_orderkey % 17 = 0
      |  UNION ALL
      |  SELECT l_orderkey + 1000000000, l_linenumber, l_partkey,
      |         l_suppkey, l_extendedprice, 'added'
      |  FROM lineitem WHERE l_orderkey % 29 = 0)
      |ORDER BY change, l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  /** Point-in-time dimension snapshot: the version of every key that
    * was valid AT `ts` — `effective_from ≤ ts < effective_to` (open
    * current rows qualify via NULL). SCD2 intervals partition each
    * key's timeline, so each key yields at most one row and the
    * lookup is a pure FILTER over the versioned dimension — no join,
    * no shuffle, prunable by `effective_from` at the scan. Together
    * with [[AsofJoin]] (per-event version resolution) this is the
    * feature-store leakage guard: training joins read the dimension
    * as it WAS, never as it is. */
  def scd2SnapshotAt(dim: DataFrame, ts: String): DataFrame =
    dim.filter(col("effective_from") <= lit(ts).cast(TimestampType) &&
      (col("effective_to").isNull ||
        col("effective_to") > lit(ts).cast(TimestampType)))

  /** Gate: rebuild the customer-priority dimension as it stood on
    * 1995-06-01. */
  def scd2Snapshot(s: SparkSession, dir: String): DataFrame =
    scd2SnapshotAt(
      scd2FromLog(Tables.orders(s, dir),
        key = "o_custkey", ts = "o_orderdate", tieBreak = "o_orderkey"),
      "1995-06-01 00:00:00")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
        col("effective_from"))
      .orderBy(col("o_custkey"), col("o_orderkey"))

  val scd2SnapshotSql: String =
    """WITH dim AS (
      |  SELECT o_custkey, o_orderkey, o_orderpriority,
      |    o_orderdate AS effective_from,
      |    LEAD(o_orderdate) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS effective_to
      |  FROM orders)
      |SELECT o_custkey, o_orderkey, o_orderpriority, effective_from
      |FROM dim
      |WHERE effective_from <= TIMESTAMP '1995-06-01 00:00:00'
      |  AND (effective_to IS NULL
      |       OR effective_to > TIMESTAMP '1995-06-01 00:00:00')
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Incremental maintenance of a materialized aggregate: the
    * standing per-(source, lang) rollup is REFRESHED by aggregating
    * only the delta batch and merging — never by re-scanning the
    * base corpus. Works because every kept statistic is algebraically
    * mergeable (counts/sums merge by sum, min/max by min/max); at
    * 100 TB the refresh cost is O(delta + groups), with the group
    * frame itself broadcast-sized. Gate: base = docs with
    * doc_id % 10 ≠ 0 materialized to scratch parquet (setup-timed),
    * delta = the remaining tenth; the oracle recomputes the rollup
    * from the FULL corpus — merged must equal recomputed exactly.
    */
  def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    def rollup(df: DataFrame): DataFrame =
      df.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
          min(col("n_chars")).as("c_min"), max(col("n_chars")).as("c_max"))
    val baseDir = scratch(dir, "incragg/base")
    graft.Scaffold.setup {
      rollup(Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0))
        .write.mode("overwrite").parquet(baseDir)
    }
    val deltaAgg =
      rollup(Tables.documents(s, dir).filter(col("doc_id") % 10 === 0))
    s.read.parquet(baseDir).union(deltaAgg)
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n")).as("n"), sum(col("chars")).as("chars"),
        min(col("c_min")).as("c_min"), max(col("c_max")).as("c_max"))
      .orderBy(col("source"), col("lang"))
  }

  val incrementalAggSql: String =
    """SELECT source, lang, COUNT(*) AS n,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars,
      |  MIN(n_chars) AS c_min, MAX(n_chars) AS c_max
      |FROM documents
      |GROUP BY source, lang
      |ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin

  /** File-level data skipping — the Delta/Iceberg min-max stats
    * mechanism on plain parquet. Orders is staged as a year-clustered
    * layout (one file per `o_year` directory), a stats index (per-FILE
    * min/max/count, keyed by `input_file_name()`) is built with one
    * scan, and a point-in-time predicate is answered by consulting
    * ONLY the index: files whose `[min,max]` range misses the cutoff
    * are never opened. The gate re-reads just the surviving files and
    * asserts the pruned scan returns exactly the full-scan answer
    * (`prune_exact`) — skipping must be an optimization, never a
    * wrong answer.
    *
    * Scale: this is THE 100 TB point-lookup pattern — a stats index
    * is metadata (one row per file; ~1e5 rows for 100 TB of 1 GB
    * files), consulting it is a driver-side prune identical to
    * partition pruning, and the data read drops from the whole table
    * to the intersecting files. The `collect()` ships file NAMES, not
    * data — same justification as the IVF index's partition prune. */
  def fileStatsPrune(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "maint_filestats")
    graft.Scaffold.setup {
      Tables.orders(s, dir)
        .withColumn("o_year", year(col("o_orderdate")).cast(LongType))
        .repartition(col("o_year")) // all rows of a year in one task →
        .write.partitionBy("o_year") // exactly one file per year dir
        .mode("overwrite").parquet(root)
    }
    val cutoff = to_timestamp(lit("1997-06-01 00:00:00"))
    // Read-back partition column is dir-name-inferred (int) — pin long.
    val stats = s.read.parquet(root)
      .groupBy(input_file_name().as("file"),
        col("o_year").cast(LongType).as("o_year"))
      .agg(min(col("o_orderdate")).as("min_d"),
        max(col("o_orderdate")).as("max_d"),
        count(lit(1)).as("n_rows"))
    val keep = stats.filter(col("max_d") >= cutoff) // index consult:
      .select(col("file")).collect().map(_.getString(0)) // names only
    val prunedCount = s.read.option("basePath", root)
      .parquet(keep.toIndexedSeq: _*)
      .filter(col("o_orderdate") >= cutoff).count()
    val fullCount = s.read.parquet(root)
      .filter(col("o_orderdate") >= cutoff).count()
    stats
      .select(col("o_year"), col("n_rows"),
        (col("max_d") >= cutoff).as("scanned"))
      .withColumn("prune_exact", lit(prunedCount == fullCount))
      .orderBy(col("o_year"))
  }

  val fileStatsPruneSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  COUNT(*) AS n_rows,
      |  MAX(o_orderdate) >= TIMESTAMP '1997-06-01' AS scanned,
      |  CAST(1 AS BOOLEAN) AS prune_exact
      |FROM orders
      |GROUP BY 1
      |ORDER BY o_year""".stripMargin

  /** Materialized-view rewrite gate — proves the
    * [[graft.plans.SummaryRewrite]] optimizer rule end to end: build
    * a (returnflag, linestatus) summary of lineitem ONCE, register
    * it, then run an ordinary `groupBy().agg()` DataFrame query over
    * the RAW lineitem scan. The rule must answer it from the summary
    * (MvRewriteSpec pins the plan swap: summary path present, fact
    * path gone), and the DuckDB oracle — which always computes from
    * raw lineitem — proves the rewritten answer is the true answer.
    * Decimal-cast sums keep partial-then-merge aggregation exact, so
    * the two-level summation cannot drift from the oracle's one
    * level. */
  def mvRewriteAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.SummaryRewrite
    val mvPath = scratch(dir, "mv_lineitem_rf_ls")
    val factPath = s"$dir/lineitem.parquet"
    graft.Scaffold.setup {
      val keys = SummaryRewrite.buildMv(
        Tables.lineitem(s, dir),
        dims = Seq("l_returnflag", "l_linestatus"),
        measures = Seq(
          ("sum", "l_quantity", "decimal(18,2)"),
          ("min", "l_extendedprice", ""),
          ("max", "l_extendedprice", "")),
        mvPath = mvPath)
      SummaryRewrite.register(SummaryRewrite.MvDef(
        factPath, mvPath,
        dims = Set("l_returnflag", "l_linestatus"),
        measures = keys, countCol = "cnt"))
      SummaryRewrite.install(s)
    }
    // Ordinary query over the RAW table; coarser grain than the MV
    // (groups only by returnflag) to prove rollup, with a dimension
    // filter to prove predicate remapping.
    Tables.lineitem(s, dir)
      .filter(col("l_linestatus") =!= "X")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("sum_qty"),
        count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .select(col("l_returnflag"),
        col("sum_qty").cast(DoubleType).as("sum_qty"), col("n"),
        col("min_price"), col("max_price"))
      .orderBy(col("l_returnflag"))
  }

  val mvRewriteAggSql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_qty,
      |  COUNT(*) AS n,
      |  MIN(l_extendedprice) AS min_price,
      |  MAX(l_extendedprice) AS max_price
      |FROM lineitem
      |WHERE l_linestatus <> 'X'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Point-in-time dimension join — the feature-store leakage guard
    * made an OPERATOR: every probe row (custkey, probe_ts) joins the
    * SCD2 version of its customer's priority that was valid AT
    * probe_ts, never a later one. Probes are each order's key at
    * `o_orderdate + 10 days`, so most probes resolve to a LATER
    * version than their own row — a real temporal lookup, not a
    * self-identity.
    *
    * Scale: the join is EQUI on the customer key with the interval
    * bound as a residual filter — a plain hash join whose residual
    * evaluates per matched pair (versions per key are bounded), not a
    * range cross-blowup. SCD2 intervals partition time per key by
    * construction, so each probe matches exactly one version; the
    * zero-width intervals same-day updates produce can never match
    * (from ≤ p < to is empty), which IS the desired last-update-wins
    * semantics. */
  def scd2EventJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = scd2FromLog(Tables.orders(s, dir),
        key = "o_custkey", ts = "o_orderdate", tieBreak = "o_orderkey")
      .select(col("o_custkey").as("d_key"),
        col("o_orderkey").as("version_key"),
        col("o_orderpriority").as("priority_at"),
        col("effective_from"), col("effective_to"))
    val probes = Tables.orders(s, dir)
      .select(col("o_orderkey").as("probe_id"), col("o_custkey"),
        (col("o_orderdate") + expr("INTERVAL 10 DAYS")).as("probe_ts"))
    probes.join(dim,
        col("o_custkey") === col("d_key") &&
        col("probe_ts") >= col("effective_from") &&
        (col("effective_to").isNull ||
          col("probe_ts") < col("effective_to")))
      .select(col("probe_id"), col("version_key"), col("priority_at"))
      .orderBy(col("probe_id"))
  }

  val scd2EventJoinSql: String =
    """WITH dim AS (
      |  SELECT o_custkey AS d_key, o_orderkey AS version_key,
      |    o_orderpriority AS priority_at,
      |    o_orderdate AS effective_from,
      |    LEAD(o_orderdate) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS effective_to
      |  FROM orders),
      |probes AS (
      |  SELECT o_orderkey AS probe_id, o_custkey,
      |    o_orderdate + INTERVAL 10 DAY AS probe_ts
      |  FROM orders)
      |SELECT probe_id, version_key, priority_at
      |FROM probes JOIN dim ON o_custkey = d_key
      |  AND probe_ts >= effective_from
      |  AND (effective_to IS NULL OR probe_ts < effective_to)
      |ORDER BY probe_id""".stripMargin

  /** Streaming materialized-view maintenance — the missing half of
    * [[graft.plans.SummaryRewrite]]: the summary a rewrite serves
    * from must stay fresh as facts ARRIVE, without ever re-scanning
    * the base. A real two-micro-batch file stream feeds foreachBatch;
    * each batch contributes only its own partial aggregate
    * (COUNT + decimal-exact SUM per priority), merged into the
    * standing summary by re-aggregating `summary ∪ partial` —
    * O(groups + batch), the incremental-agg algebra under streaming
    * delivery — and swapped in atomically ([[graft.ops.TableSwap]]
    * staging semantics via temp + rename).
    *
    * The gate reads the summary AFTER the stream stops: it must
    * equal the oracle's one-shot aggregate over ALL the data — i.e.
    * two incremental merges == full recompute, exactly (decimal
    * partials make the merge associative). */
  def streamMvMaintain(s: SparkSession, dir: String): DataFrame = {
    val mvDir = scratch(dir, "mvstream/mv")
    val o = Tables.orders(s, dir)
    Scaffold.setup(Scaffold.rm(s, mvDir))
    val fs = new Path(mvDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    EventStreams.replay("mvstream_" + Scaffold.tag(dir),
        scratch(dir, "mvstream/src"),
        Seq(o.filter(col("o_orderkey") % 2 === 0),
          o.filter(col("o_orderkey") % 2 =!= 0))) { (stream, ck) =>
      stream.writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val part = batch.groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("cnt"),
              sum(col("o_totalprice").cast(DecimalType(18, 2)))
                .cast(DecimalType(28, 2)).as("sum_price"))
          val merged =
            if (fs.exists(new Path(s"$mvDir/_SUCCESS")))
              batch.sparkSession.read.parquet(mvDir).unionByName(part)
                .groupBy(col("o_orderpriority"))
                .agg(sum(col("cnt")).as("cnt"),
                  sum(col("sum_price")).cast(DecimalType(28, 2))
                    .as("sum_price"))
            else part
          val staging = s"$mvDir.staging"
          merged.write.mode("overwrite").parquet(staging)
          TableSwap.swapIn(batch.sparkSession, mvDir, staging)
        }
        .start()
    }
    s.read.parquet(mvDir)
      .select(col("o_orderpriority"), col("cnt"),
        col("sum_price").cast(DoubleType).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  val streamMvMaintainSql: String =
    """SELECT o_orderpriority, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** VACUUM for the [[TableSwap]] savepoint ring: drop retained
    * generations beyond `keep`, newest kept. Pure metadata renames/
    * deletes — no data movement, like the ring itself. Returns the
    * backup count before/after. */
  def vacuumBackups(s: SparkSession, target: String, keep: Int): (Int, Int) = {
    val fs = new Path(target)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def baks = Iterator.from(0)
      .map(i => new Path(s"$target.bak$i"))
      .takeWhile(fs.exists).toSeq
    val before = baks.size
    baks.drop(keep).foreach(p => fs.delete(p, true))
    (before, math.min(before, keep))
  }

  /** Gate: two retained swaps build a 2-deep ring (bak0 = half table,
    * bak1 = full table), VACUUM keep=1 drops the oldest, and the
    * surviving generations are still QUERYABLE with exactly the row
    * counts the swap history dictates — time travel retention as an
    * auditable operator, the plain-parquet VACUUM. */
  def vacuumGate(s: SparkSession, dir: String): DataFrame = {
    val tgt = scratch(dir, "vacuum/orders")
    val o = Tables.orders(s, dir)
    Scaffold.setup {
      Scaffold.rm(s, tgt, s"$tgt.bak0", s"$tgt.bak1", s"$tgt.bak2")
      ParquetSink.write(o, tgt)
      val st1 = s"$tgt.staging1"
      ParquetSink.write(o.filter(col("o_orderkey") % 2 === 0), st1)
      TableSwap.swapIn(s, tgt, st1, retain = 2) // bak0 = full
      val st2 = s"$tgt.staging2"
      ParquetSink.write(o.filter(col("o_orderkey") % 4 === 0), st2)
      TableSwap.swapIn(s, tgt, st2, retain = 2) // bak0 = %2, bak1 = full
    }
    val (before, after) = vacuumBackups(s, tgt, keep = 1)
    val counts = Seq(
      ("current_mod4", s.read.parquet(tgt).count()),
      ("bak0_mod2", s.read.parquet(s"$tgt.bak0").count()))
    val fs = new Path(tgt)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    import s.implicits._
    counts.toDF("generation", "n_rows")
      .withColumn("baks_before", lit(before.toLong))
      .withColumn("baks_after", lit(after.toLong))
      .withColumn("bak1_gone",
        lit(!fs.exists(new Path(s"$tgt.bak1"))))
      .orderBy(col("generation"))
  }

  val vacuumGateSql: String =
    """SELECT g.generation, g.n_rows,
      |  CAST(2 AS BIGINT) AS baks_before,
      |  CAST(1 AS BIGINT) AS baks_after,
      |  TRUE AS bak1_gone
      |FROM (
      |  SELECT 'current_mod4' AS generation,
      |    (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 = 0)
      |      AS n_rows
      |  UNION ALL
      |  SELECT 'bak0_mod2',
      |    (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0)) g
      |ORDER BY generation""".stripMargin

  /** Incremental JOIN-view maintenance (the delta-rule complement of
    * [[incrementalAgg]]'s aggregate IVM and [[streamMvMaintain]]'s
    * streamed variant): a materialized `orders ⋈ customer` view is
    * brought current after an insert batch lands on EACH side without
    * rejoining the full tables. Insert-only delta rule:
    *
    *   V_new = V_old ∪ (ΔO ⋈ C_new) ∪ (O_old ⋈ ΔC)
    *
    * (ΔO⋈ΔC lives in the first term and only there — no double
    * count). Deltas here are deterministic slices: ΔO = orders with
    * `o_orderkey % 10 = 7`, ΔC = customers with `c_custkey % 50 = 0`
    * — so old orders referencing a "late-arriving" customer are
    * exactly the dimension-delta repair the second term exists for.
    *
    * Scale shape: both delta terms join a SMALL changed batch
    * (broadcast) against one unshuffled big side — the standing view
    * is appended to, never recomputed, and the base fact table never
    * moves through a shuffle. The oracle is the full recompute
    * `O_new ⋈ C_new`: incremental == recompute is the IVM
    * correctness contract. */
  def ivmJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val dO = orders.filter(col("o_orderkey") % 10 === 7)
    val oldO = orders.filter(col("o_orderkey") % 10 =!= 7)
    val dC = cust.filter(col("c_custkey") % 50 === 0)
    val oldC = cust.filter(col("c_custkey") % 50 =!= 0)
    val vOld = oldO.join(oldC, col("o_custkey") === col("c_custkey"))
    val deltaO = broadcast(dO).join(cust, // C_new = full customer table
      col("o_custkey") === col("c_custkey"))
    val deltaC = oldO.join(broadcast(dC),
      col("o_custkey") === col("c_custkey"))
    vOld.unionByName(deltaO).unionByName(deltaC)
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
        col("c_mktsegment"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val ivmJoinSql: String =
    """SELECT o.o_orderkey, c.c_custkey, c.c_name, c.c_mktsegment,
      |  o.o_totalprice
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |ORDER BY o.o_orderkey""".stripMargin

  /** Write–audit–publish (WAP) — the lakehouse ingestion contract:
    * every append lands in a STAGING table first, a declarative audit
    * (no NULL keys, positive amounts, row count monotone) runs
    * against the staged candidate, and only a passing candidate is
    * atomically swapped live ([[TableSwap.swapIn]] — rename, never
    * copy); a failing candidate is dropped with the live table
    * untouched. The gate drives BOTH outcomes: a poisoned batch
    * (NULL `o_orderpriority`) is staged, audited, REJECTED; a clean
    * batch is staged, audited, PUBLISHED; the final count is re-read
    * from the on-disk live table, so a leaked bad batch or a lost
    * clean one hash-fails against the oracle's restatement.
    *
    * Scale: audits are aggregate scans of the staged candidate only
    * (predicate-pushed); publish is O(1) renames. The pattern is
    * Iceberg's WAP with plain-parquet primitives. */
  def wapPublish(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = scratch(dir, "wap")
    val live = s"$root/orders"
    graft.sources.ParquetSink.write(Tables.orders(s, dir), live)
    val n0 = s.read.parquet(live).count()
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    def batch(keyShift: Long, poisonPriority: Boolean): DataFrame = {
      val b = s.read.parquet(live).orderBy(col("o_orderkey")).limit(2)
        .withColumn("o_orderkey", col("o_orderkey") + keyShift)
      val p = if (poisonPriority)
        b.withColumn("o_orderpriority", lit(null).cast(StringType))
      else b
      p.select(cols.map(col): _*)
    }
    def stageAndAudit(b: DataFrame, name: String): (String, Long, Boolean) = {
      val p = s"$root/stage_$name"
      graft.sources.ParquetSink.write(
        s.read.parquet(live).select(cols.map(col): _*).unionByName(b), p)
      val staged = s.read.parquet(p)
      val n = staged.count()
      val bad = staged.filter(col("o_orderpriority").isNull ||
        col("o_totalprice") <= 0 || col("o_orderkey").isNull).count()
      (p, n, bad == 0 && n >= n0)
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val (p1, n1, ok1) = stageAndAudit(batch(2000000000L, true), "bad")
    if (!ok1) fs.delete(new org.apache.hadoop.fs.Path(p1), true)
    else TableSwap.swapIn(s, live, p1)
    val (p2, n2, ok2) = stageAndAudit(batch(1000000000L, false), "clean")
    if (!ok2) fs.delete(new org.apache.hadoop.fs.Path(p2), true)
    else TableSwap.swapIn(s, live, p2)
    val nFinal = s.read.parquet(live).count()
    Seq(("1_audit_bad", n1, ok1), ("2_audit_clean", n2, ok2),
      ("3_published", nFinal, true))
      .toDF("step", "n_rows", "ok").orderBy(col("step"))
  }

  /** Orphan-file garbage collection — the debris half of table
    * maintenance that [[vacuumBackups]]' generation pruning does not
    * cover: data files that sit INSIDE the table directory but are
    * not referenced by the table's manifest (crashed writers, failed
    * speculative tasks, aborted compactions). Orphans are actively
    * dangerous with plain directory scans: the reader double-counts
    * their rows. The GC reconciles a directory listing against the
    * manifest as an anti-join, deletes only unreferenced data files
    * (never `_SUCCESS`/metadata), and re-reads the table to prove
    * content integrity — the gate drives a planted double-count
    * hazard end to end.
    *
    * Scale: the manifest and listing are O(files) metadata frames
    * (at 100 TB: millions of names, still a trivial anti-join);
    * no data file is ever read during GC. */
  def orphanGc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = scratch(dir, "orphan_gc")
    val table = s"$root/orders"
    graft.sources.ParquetSink.write(
      Tables.orders(s, dir).repartition(2), table)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def dataFiles: Seq[String] = fs.listStatus(
      new org.apache.hadoop.fs.Path(table)).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
    val manifest = dataFiles // recorded at commit time
    val cleanRows = s.read.parquet(table).count()
    // Planted debris: a crashed writer left a duplicate data file.
    val first = manifest.head
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$table/$first"),
      fs, new org.apache.hadoop.fs.Path(s"$table/part-orphan-$first"),
      false, s.sparkContext.hadoopConfiguration)
    val listedBefore = dataFiles
    val doubled = s.read.parquet(table).count() // the hazard, visible
    val orphans = listedBefore.toDF("f")
      .join(manifest.toDF("f"), Seq("f"), "left_anti")
      .as[String].collect() // O(files) names — metadata-sized
    orphans.foreach(f => fs.delete(
      new org.apache.hadoop.fs.Path(s"$table/$f"), false))
    val after = s.read.parquet(table).count()
    Seq((manifest.size.toLong, listedBefore.size.toLong,
      doubled > cleanRows, orphans.length.toLong, after))
      .toDF("n_manifest", "n_listed", "hazard_visible",
        "n_deleted", "rows_after")
  }

  val orphanGcSql: String =
    """SELECT CAST(2 AS BIGINT) AS n_manifest,
      |  CAST(3 AS BIGINT) AS n_listed, true AS hazard_visible,
      |  CAST(1 AS BIGINT) AS n_deleted,
      |  CAST(COUNT(*) AS BIGINT) AS rows_after
      |FROM orders""".stripMargin

  val wapPublishSql: String =
    """SELECT '1_audit_bad' AS step,
      |  (SELECT COUNT(*) + 2 FROM orders) AS n_rows, false AS ok
      |UNION ALL
      |SELECT '2_audit_clean', (SELECT COUNT(*) + 2 FROM orders), true
      |UNION ALL
      |SELECT '3_published', (SELECT COUNT(*) + 2 FROM orders), true
      |ORDER BY step""".stripMargin

  /** Compaction PLANNER — the bin-packing step that decides which
    * small files coalesce into which target file BEFORE
    * [[compactRoundtrip]] moves any bytes (the OPTIMIZE planning
    * phase in Delta/Iceberg terms). Inventory rows (file, bytes)
    * are packed size-DESCENDING by prefix sum: bin =
    * `cum_before div target` — each target file lands within one
    * input file of the target size, deterministically, with no
    * sequential first-fit loop (the prefix sum IS the assignment,
    * so the planner itself scales to million-file manifests as one
    * window over the metadata-sized inventory). Emits per-bin file
    * counts, byte totals and fill ratio.
    *
    * The gate derives a deterministic inventory from `documents`
    * (one "file" per source, bytes = Σ n_chars) so the oracle can
    * state it; the spec runs the SAME planner over a real parquet
    * directory listing. */
  def compactionPlan(s: SparkSession, dir: String,
      targetBytes: Long = 16384L): DataFrame =
    compactionPlanOver(
      Tables.documents(s, dir)
        .groupBy(col("source").as("file"))
        .agg(sum(col("n_chars")).as("bytes")),
      targetBytes)

  /** The planner itself, inventory-agnostic: (file, bytes) in,
    * per-bin plan out. */
  def compactionPlanOver(inventory: DataFrame,
      targetBytes: Long): DataFrame = {
    val w = Window.orderBy(col("bytes").desc, col("file"))
    inventory
      .withColumn("cum_before", coalesce(sum(col("bytes"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("bin", expr(s"cum_before div ${targetBytes}L"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes"))
      .select(col("bin"), col("n_files"), col("bytes"),
        expr(s"(bytes * 1000000) div ${targetBytes}L")
          .as("fill_ppm"))
      .orderBy(col("bin"))
  }

  val compactionPlanSql: String =
    """WITH inv AS (
      |  SELECT source AS file, CAST(SUM(n_chars) AS BIGINT) AS bytes
      |  FROM documents GROUP BY source),
      |assigned AS (
      |  SELECT file, bytes,
      |    CAST(COALESCE(SUM(bytes) OVER (
      |      ORDER BY bytes DESC, file
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) // 16384 AS bin
      |  FROM inv)
      |SELECT CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_files,
      |  CAST(SUM(bytes) AS BIGINT) AS bytes,
      |  (CAST(SUM(bytes) AS BIGINT) * 1000000) // 16384 AS fill_ppm
      |FROM assigned GROUP BY bin
      |ORDER BY bin""".stripMargin

  /** ANALYZE TABLE / CBO statistics contract — the catalog-stats
    * path a 1000-executor cluster actually plans with: register
    * scratch managed tables, run `ANALYZE TABLE ... COMPUTE
    * STATISTICS`, and read the ROW COUNTS back from the catalog
    * stats (NOT by scanning) — proving the stats pipeline records
    * truth the optimizer can plan from (join-side choice, AQE
    * seeds). The oracle states the same counts from the source
    * relations, so stale or missing stats cannot hash green;
    * AnalyzeCboSpec pins the plan-level consequence (a
    * stats-known under-threshold dim broadcasts without a hint).
    *
    * Scale: ANALYZE is one count-style scan per table — the
    * standard nightly stats job; reading stats back is catalog
    * metadata only. */
  def analyzeCbo(s: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tables = Seq(
      ("nation", Tables.nation(s, dir)),
      ("region", Tables.region(s, dir)),
      ("supplier", Tables.supplier(s, dir)))
    import s.implicits._
    val rows = tables.map { case (name, df) =>
      val t = s"graft_stats_${tag}_$name"
      graft.Scaffold.setup {
        // a previous JVM's managed-table dir may survive the catalog
        // (fresh session, old warehouse) — clear both sides
        s.sql(s"DROP TABLE IF EXISTS $t")
        val wh = new Path(s.conf.get("spark.sql.warehouse.dir"), t)
        val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(wh)) fs.delete(wh, true)
        df.write.mode("overwrite").saveAsTable(t)
        s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
      }
      // read the CATALOG stats (what ANALYZE recorded) — the
      // optimizedPlan only surfaces rowCount under CBO mode
      val stats = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).stats
      (name,
        stats.flatMap(_.rowCount).map(_.toLong).getOrElse(-1L),
        stats.exists(_.sizeInBytes > 0))
    }
    rows.toDF("tbl", "stats_row_count", "size_known")
      .orderBy(col("tbl"))
  }

  val analyzeCboSql: String =
    """SELECT tbl, stats_row_count, TRUE AS size_known FROM (
      |  SELECT 'nation' AS tbl,
      |    (SELECT COUNT(*) FROM nation) AS stats_row_count
      |  UNION ALL
      |  SELECT 'region', (SELECT COUNT(*) FROM region)
      |  UNION ALL
      |  SELECT 'supplier', (SELECT COUNT(*) FROM supplier))
      |ORDER BY tbl""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "maint_analyze_cbo" -> (analyzeCbo _),
    "maint_compaction_plan" -> ((s: SparkSession, d: String) =>
      compactionPlan(s, d)),
    "maint_orphan_gc" -> (orphanGc _),
    "maint_wap_publish" -> (wapPublish _),
    "maint_partition_evolution" -> (partitionEvolution _),
    "maint_ivm_join" -> (ivmJoin _),
    "mv_rewrite_agg" -> (mvRewriteAgg _),
    "stream_mv_maintain" -> (streamMvMaintain _),
    "purge_vacuum" -> (vacuumGate _),
    "scd2_event_join" -> (scd2EventJoin _),
    "maint_file_stats_prune" -> (fileStatsPrune _),
    "maint_incremental_agg" -> (incrementalAgg _),
    "scd2_snapshot" -> (scd2Snapshot _),
    "maint_snapshot_diff" -> (snapshotDiffGate _),
    "merge_upsert" -> (mergeUpsert _),
    "compact_roundtrip" -> (compactRoundtrip _),
    "scd2_build" -> (scd2Build _),
    "stream_cdc_apply" -> (cdcApply _),
    "stream_idempotent_sink" -> (idempotentSink _))
  def oracle: Map[String, String] = Map(
    "maint_analyze_cbo" -> analyzeCboSql,
    "maint_compaction_plan" -> compactionPlanSql,
    "maint_orphan_gc" -> orphanGcSql,
    "maint_wap_publish" -> wapPublishSql,
    "maint_partition_evolution" -> partitionEvolutionSql,
    "maint_ivm_join" -> ivmJoinSql,
    "mv_rewrite_agg" -> mvRewriteAggSql,
    "stream_mv_maintain" -> streamMvMaintainSql,
    "purge_vacuum" -> vacuumGateSql,
    "scd2_event_join" -> scd2EventJoinSql,
    "maint_file_stats_prune" -> fileStatsPruneSql,
    "maint_incremental_agg" -> incrementalAggSql,
    "scd2_snapshot" -> scd2SnapshotSql,
    "maint_snapshot_diff" -> snapshotDiffSql,
    "merge_upsert" -> mergeUpsertSql,
    "compact_roundtrip" -> compactRoundtripSql,
    "scd2_build" -> scd2BuildSql,
    "stream_cdc_apply" -> cdcApplySql,
    "stream_idempotent_sink" -> idempotentSinkSql)
}
