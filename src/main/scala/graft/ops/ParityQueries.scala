package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Scaffold, Tables}
import graft.Scaffold.scratch
import graft.schema.SchemaLoader
import graft.sources.{AvroIngest, CsvIngest, ParquetSink}

/** Reference-parity operators exposed through the correctness gate:
  * the CSV→Parquet conversion path (SchemaLoader + CsvIngest, SURVEY
  * §2.1-2.3) and the purge engine (§2.7), each validated against a
  * DuckDB oracle over the *original* parquet tables — conversion and
  * purge must be value-preserving, so the oracle never needs to see
  * the scratch files.
  */
object ParityQueries {

  /** The lineitem table declared in the reference's schema-JSON
    * dialect — exercises SchemaLoader end-to-end (INT32/INT64,
    * STRING, DECIMAL, TIMESTAMP_MICROS, REQUIRED/OPTIONAL). */
  val LineitemSchemaJson: String =
    """{"fields": [
      |  {"name": "l_orderkey",      "type": "INT64", "repetition": "REQUIRED"},
      |  {"name": "l_partkey",       "type": "INT64"},
      |  {"name": "l_suppkey",       "type": "INT64"},
      |  {"name": "l_linenumber",    "type": "INT32"},
      |  {"name": "l_quantity",      "type": "BINARY", "logicalType": "DECIMAL", "precision": 18, "scale": 2},
      |  {"name": "l_extendedprice", "type": "BINARY", "logicalType": "DECIMAL", "precision": 18, "scale": 2},
      |  {"name": "l_discount",      "type": "BINARY", "logicalType": "DECIMAL", "precision": 18, "scale": 2},
      |  {"name": "l_tax",           "type": "BINARY", "logicalType": "DECIMAL", "precision": 18, "scale": 2},
      |  {"name": "l_returnflag",    "type": "BINARY", "logicalType": "STRING"},
      |  {"name": "l_linestatus",    "type": "BINARY", "logicalType": "STRING"},
      |  {"name": "l_shipdate",      "type": "INT64", "logicalType": "TIMESTAMP_MICROS"}
      |]}""".stripMargin

  /** CSV round-trip: export lineitem to CSV, re-ingest it through the
    * schema-declared conversion path (casts P1–P7), aggregate. The
    * oracle computes the same aggregate over the original parquet —
    * equality proves the conversion is value-preserving. */
  def convCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val csvDir = scratch(dir, "conv_roundtrip_csv")
    // Micros-preserving export: SSSSSS keeps fractional seconds, so the
    // round-trip gate (not just the unit spec) proves sub-second
    // fidelity through the conversion path. CsvIngest's multi-format
    // timestamp parse accepts both fraction-less and fractional forms.
    graft.Scaffold.setup {
      Tables.lineitem(s, dir).write
        .mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(csvDir)
    }
    val schema = SchemaLoader.fromJson(LineitemSchemaJson)
    val back = CsvIngest.read(s, csvDir, schema)
    back.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity")).cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice")).cast(DoubleType).as("sum_price"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"))
      .orderBy(col("l_returnflag"))
  }

  val convCsvRoundtripSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  MIN(l_shipdate) AS min_ship,
      |  MAX(l_shipdate) AS max_ship
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** JSONL round-trip: export lineitem as newline-delimited JSON,
    * re-ingest through the schema-declared [[JsonlIngest]] path (same
    * cast contract as CSV, name-bound), aggregate along a DIFFERENT
    * axis than the CSV gate so the two prove fidelity independently.
    * The oracle reads the original parquet — equality proves the
    * JSONL path is value-preserving end to end (decimals, micros
    * timestamps, nulls). */
  def convJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val jsonDir = scratch(dir, "conv_roundtrip_jsonl")
    graft.Scaffold.setup {
      Tables.lineitem(s, dir).write
        .mode("overwrite")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .json(jsonDir)
    }
    val schema = SchemaLoader.fromJson(LineitemSchemaJson)
    val back = graft.sources.JsonlIngest.read(s, jsonDir, schema)
    back.groupBy(col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_extendedprice")).cast(DoubleType).as("sum_price"),
        sum(col("l_discount")).cast(DoubleType).as("sum_disc"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"))
      .orderBy(col("l_linestatus"))
  }

  val convJsonlRoundtripSql: String =
    """SELECT l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
      |  MIN(l_shipdate) AS min_ship,
      |  MAX(l_shipdate) AS max_ship
      |FROM lineitem
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** Gzip-compressed CSV round-trip: the codec path of the convert
    * pipeline (reference scope: the S3-bound CSV→parquet conversion
    * regularly receives .csv.gz drops). Spark's text source
    * decompresses by extension transparently, but gzip is
    * NON-SPLITTABLE — at 100 TB one giant .gz is one task, so the
    * ingest contract is many medium files (the export here produces
    * one .gz per input partition, exactly that layout). Aggregates
    * along a third axis (ship-year) so csv/jsonl/gzip prove fidelity
    * independently. */
  def convCsvGzipRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val csvDir = scratch(dir, "conv_roundtrip_csv_gz")
    graft.Scaffold.setup {
      Tables.lineitem(s, dir).write
        .mode("overwrite")
        .option("header", "true")
        .option("codec", "gzip")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(csvDir)
    }
    val schema = SchemaLoader.fromJson(LineitemSchemaJson)
    val back = CsvIngest.read(s, csvDir, schema)
    back.groupBy(year(col("l_shipdate")).cast(LongType).as("ship_year"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity")).cast(DoubleType).as("sum_qty"),
        sum(col("l_tax")).cast(DoubleType).as("sum_tax"),
        max(col("l_linenumber").cast(LongType)).as("max_line"))
      .orderBy(col("ship_year"))
  }

  val convCsvGzipRoundtripSql: String =
    """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_tax,
      |  CAST(MAX(l_linenumber) AS BIGINT) AS max_line
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY ship_year""".stripMargin

  /** LZ4 CSV round-trip — the second codec path (gzip gate above):
    * lz4 trades ratio for decompression speed (GB/s-class), the right
    * codec when ingest is CPU-bound rather than I/O-bound; zstd would
    * be the third option but Hadoop's ZStandardCodec needs native
    * libhadoop, which this environment lacks — the available-codec
    * contract is part of what this gate pins. Same ingest path and
    * cast contract; aggregation along a third axis (suppkey buckets)
    * so the codec gates stay independent. */
  def convCsvLz4Roundtrip(s: SparkSession, dir: String): DataFrame = {
    val csvDir = scratch(dir, "conv_roundtrip_csv_lz4")
    graft.Scaffold.setup {
      Tables.lineitem(s, dir).write
        .mode("overwrite")
        .option("header", "true")
        .option("codec", "lz4")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(csvDir)
    }
    val schema = SchemaLoader.fromJson(LineitemSchemaJson)
    CsvIngest.read(s, csvDir, schema)
      .groupBy((col("l_suppkey") % 7).as("supp_bucket"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_extendedprice")).cast(DoubleType).as("sum_price"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy(col("supp_bucket"))
  }

  val convCsvLz4RoundtripSql: String =
    """SELECT l_suppkey % 7 AS supp_bucket, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price,
      |  COUNT(DISTINCT l_partkey) AS n_parts
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY supp_bucket""".stripMargin

  /** Parquet bloom-filter point lookups: the writer property
    * `parquet.bloom.filter.enabled#<col>` embeds a split-block bloom
    * per row group, and a point predicate on that column skips row
    * groups whose filter rules the key out — the high-cardinality
    * complement to min/max stats ([[Maintenance.fileStatsPrune]]),
    * which are useless on uniformly-spread keys. The gate writes
    * orders bloom-indexed on `o_orderkey`, runs a multi-key point
    * lookup through the bloom-filtered scan, and the oracle states
    * the exact expected rows — blooms may only SKIP, never lose. */
  def parquetBloomLookup(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "parquet_bloom")
    graft.Scaffold.setup {
      Tables.orders(s, dir)
        .repartition(8)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_orderkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_orderkey", "20000")
        .parquet(root)
    }
    s.read.parquet(root)
      .filter(col("o_orderkey").isin(1L, 7L, 777L, 4242L, 99991L))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val parquetBloomLookupSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE o_orderkey IN (1, 7, 777, 4242, 99991)
      |ORDER BY o_orderkey""".stripMargin

  /** Parquet schema evolution: two file generations in one directory
    * — generation 1 lacks `o_orderstatus`, generation 2 carries it —
    * read back under `mergeSchema=true`. The reader must union the
    * footers into one schema and null-fill the missing column for
    * gen-1 rows, never dropping or misaligning columns: exactly the
    * add-a-column migration every long-lived lake table goes
    * through. The oracle rebuilds the same view from the original
    * orders with a CASE on the generation split.
    *
    * Scale: schema merge reads FOOTERS (KBs per file), not data; the
    * scan itself stays vectorized with a per-file projection map —
    * the standard evolution path when rewriting 100 TB for one new
    * column is not an option. */
  def convSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "conv_schema_evolution")
    graft.Scaffold.setup {
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(root)
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .write.mode("append").parquet(root)
    }
    s.read.option("mergeSchema", "true").parquet(root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy(col("o_orderstatus").asc_nulls_first)
  }

  val convSchemaEvolutionSql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL
      |       ELSE o_orderstatus END AS o_orderstatus,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price,
      |  COUNT(DISTINCT o_custkey) AS n_cust
      |FROM orders
      |GROUP BY 1
      |ORDER BY o_orderstatus ASC NULLS FIRST""".stripMargin

  /** JSONL quarantine: the row-isolation contract on the second
    * source format. l_suppkey is corrupted to a non-integer string on
    * a deterministic key subset before export; [[graft.sources
    * .JsonlIngest.readChecked]] must quarantine exactly those rows
    * (counted under `_quarantined`) while the good rows aggregate
    * like the table minus the corrupted keys. */
  def convJsonlQuarantine(s: SparkSession, dir: String): DataFrame = {
    val jsonDir = scratch(dir, "conv_jsonl_quarantine")
    graft.Scaffold.setup {
      Tables.lineitem(s, dir)
        .withColumn("l_suppkey",
          when(col("l_orderkey") % 101 === 0, lit("not_a_long"))
            .otherwise(col("l_suppkey").cast(StringType)))
        .write
        .mode("overwrite")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .json(jsonDir)
    }
    val schema = SchemaLoader.fromJson(LineitemSchemaJson)
    val checked = graft.sources.JsonlIngest.readChecked(
      s, Seq(jsonDir), schema)
    val good = CsvIngest.goodRows(checked, schema)
      .groupBy(col("l_linestatus").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice")).cast(DoubleType).as("sum_price"))
    val bad = CsvIngest.badRows(checked, schema)
      .agg(count(lit(1)).as("n"))
      .select(lit("_quarantined").as("bucket"), col("n"),
        lit(null).cast(DoubleType).as("sum_price"))
    good.unionAll(bad).orderBy(col("bucket"))
  }

  val convJsonlQuarantineSql: String =
    """SELECT l_linestatus AS bucket, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM lineitem WHERE l_orderkey % 101 <> 0
      |GROUP BY l_linestatus
      |UNION ALL
      |SELECT '_quarantined', COUNT(*), NULL
      |FROM lineitem WHERE l_orderkey % 101 = 0
      |ORDER BY bucket""".stripMargin

  /** ORC round-trip: the third columnar interchange format Spark
    * serves natively (after parquet and the CSV/JSONL text paths).
    * Types survive ORC natively (no string re-cast needed — unlike
    * CSV/JSONL the format is self-describing and typed), so this gate
    * proves the writer/reader pair preserves decimals, micros
    * timestamps, and nulls bit-for-bit. Aggregates along the line-number
    * axis so the three conv gates are mutually independent. */
  def convOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val orcDir = scratch(dir, "conv_roundtrip_orc")
    graft.Scaffold.setup {
      Tables.lineitem(s, dir).write
        .mode("overwrite")
        .option("compression", "snappy")
        .orc(orcDir)
    }
    s.read.orc(orcDir)
      .groupBy(col("l_linenumber"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_linenumber"))
  }

  val convOrcRoundtripSql: String =
    """SELECT l_linenumber, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |GROUP BY l_linenumber
      |ORDER BY l_linenumber""".stripMargin

  /** Avro container roundtrip. Avro is the reference's internal IR
    * (CSV row → `GenericRecord`, `CsvToParquetConverter.java:154`;
    * all-nullable union schema, `CsvToParquetConverter.java:52-74`);
    * here the same record model is a first-class FILE format: export
    * lineitem as snappy `.avro` container files (decimal column added
    * to exercise the bytes/decimal logical type, NTZ ship timestamp
    * exercises local-timestamp-micros), scan it back through the
    * sync-marker-splittable `AvroKeyInputFormat` path, and prove the
    * values survived against the oracle over the ORIGINAL parquet. */
  def convAvroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val avroDir = scratch(dir, "conv_roundtrip_avro")
    graft.Scaffold.setup {
      AvroIngest.write(
        Tables.lineitem(s, dir).withColumn("l_quantity_dec",
          col("l_quantity").cast(DecimalType(12, 2))), avroDir)
    }
    AvroIngest.read(s, avroDir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity_dec")).cast(DoubleType).as("sum_qty"),
        max(col("l_shipdate")).as("max_ship"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))
  }

  val convAvroRoundtripSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  MAX(l_shipdate) AS max_ship,
      |  COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** The reference's WHOLE pipeline shape with its real IR as the
    * visible interchange: CSV export → schema-declared CSV read →
    * Avro container files ([[AvroIngest]], the `GenericRecord` stage
    * `CsvToParquetConverter.java:154` keeps in memory) → Parquet
    * sink → scan. Values must survive the full three-format chain
    * against the oracle over the ORIGINAL table. */
  def convCsvViaAvro(s: SparkSession, dir: String): DataFrame = {
    val csvDir = scratch(dir, "via_avro_csv")
    val avroDir = scratch(dir, "via_avro_avro")
    val pqDir = scratch(dir, "via_avro_parquet")
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    graft.Scaffold.setup {
      val base = Tables.orders(s, dir)
      base.write.mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", tsFmt)
        .option("timestampNTZFormat", tsFmt)
        .csv(csvDir)
      val fromCsv = s.read
        .schema(base.schema)
        .option("header", "true")
        .option("timestampFormat", tsFmt)
        .option("timestampNTZFormat", tsFmt)
        .csv(csvDir)
      AvroIngest.write(fromCsv, avroDir)
      AvroIngest.read(s, avroDir)
        .write.mode("overwrite")
        .option("compression", "snappy").parquet(pqDir)
    }
    s.read.parquet(pqDir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"),
        max(col("o_orderdate")).as("max_date"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy(col("o_orderpriority"))
  }

  val convCsvViaAvroSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price,
      |  MAX(o_orderdate) AS max_date,
      |  COUNT(DISTINCT o_custkey) AS n_cust
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Quarantine gate (reference file-abort semantics,
    * `CsvToParquetConverter.java:204-213`, re-expressed as row-level
    * isolation): export lineitem to CSV with l_linenumber deliberately
    * corrupted to a non-integer on a deterministic key subset, ingest
    * through [[CsvIngest.readChecked]], and prove the split is exact —
    * good rows aggregate like the un-corrupted table minus the
    * corrupted keys; the corrupted rows are ALL quarantined (counted
    * under the `_quarantined` bucket), none silently NULLed into the
    * output. */
  def convQuarantine(s: SparkSession, dir: String): DataFrame = {
    val csvDir = scratch(dir, "conv_quarantine_csv")
    graft.Scaffold.setup {
      Tables.lineitem(s, dir)
        .withColumn("l_linenumber",
          when(col("l_orderkey") % 97 === 0, lit("not_an_int"))
            .otherwise(col("l_linenumber").cast(StringType)))
        .write
        .mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(csvDir)
    }
    val schema = SchemaLoader.fromJson(LineitemSchemaJson)
    val checked = CsvIngest.readChecked(s, Seq(csvDir), schema)
    val good = CsvIngest.goodRows(checked, schema)
      .groupBy(col("l_returnflag").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast(DoubleType).as("sum_qty"))
    val bad = CsvIngest.badRows(checked, schema)
      .agg(count(lit(1)).as("n"))
      .select(lit("_quarantined").as("bucket"), col("n"),
        lit(null).cast(DoubleType).as("sum_qty"))
    good.unionAll(bad).orderBy(col("bucket"))
  }

  val convQuarantineSql: String =
    """SELECT l_returnflag AS bucket, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_orderkey % 97 <> 0
      |GROUP BY 1
      |UNION ALL
      |SELECT '_quarantined' AS bucket, COUNT(*) AS n,
      |  CAST(NULL AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_orderkey % 97 = 0
      |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- //

  private val Criteria =
    "o_orderstatus = 'F' AND o_orderdate < timestamp'1997-01-01'"

  /** Fresh scratch copy of `orders` as a purge-able parquet table. */
  private def copyOrders(s: SparkSession, dir: String, name: String)
      : (String, Purge.DirResolver) = graft.Scaffold.setup {
    val root = scratch(dir, name)
    ParquetSink.write(Tables.orders(s, dir), s"$root/orders")
    (s"$root/orders", Purge.DirResolver(root))
  }

  /** Criteria delete (Q4): guarded anti-rewrite, then the surviving
    * rows. Oracle: `SELECT ... WHERE NOT(criteria)` on the original. */
  def purgeCriteriaDelete(s: SparkSession, dir: String): DataFrame = {
    val (path, resolver) = copyOrders(s, dir, "purge_criteria")
    new Purge.Engine(s, resolver).run(
      Seq(Purge.PurgeConfig("graft", "orders", "CRITERIA", Criteria,
        maxRecordCount = Long.MaxValue)))
    s.read.parquet(path)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val purgeCriteriaDeleteSql: String =
    """SELECT o_orderkey, o_orderstatus, o_orderdate, o_totalprice
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1997-01-01')
      |ORDER BY o_orderkey""".stripMargin

  /** Referential-cascade purge — the multi-table extension of the
    * criteria delete (reference Q4/Q6: the PL/SQL purge brackets FK
    * constraints precisely because deletes must respect them; on
    * Spark there is no FK engine, so the CASCADE ITSELF becomes the
    * operator): delete customers matching the criteria, then their
    * orders, then those orders' line items — each table rewritten by
    * anti-join and atomically swapped in (the Q7 staging+rename
    * discipline). The doomed-key frames are materialized from the
    * PRE-state before any swap, so rewrite order can't race. The
    * gate emits post-state survivor counts plus two zero-pinned
    * audits (no surviving child references a deleted parent) read
    * back FROM DISK — proving the cascade landed, not just planned.
    *
    * Scale: two anti-joins shuffling on the FKs (exchange-free when
    * the facts are bucketed on them) and key-frame semi-joins; no
    * table is scanned more than twice. */
  def purgeCascade(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "purge_cascade")
    graft.Scaffold.setup {
      ParquetSink.write(Tables.customer(s, dir), s"$root/customer")
      ParquetSink.write(Tables.orders(s, dir), s"$root/orders")
      ParquetSink.write(Tables.lineitem(s, dir), s"$root/lineitem")
    }
    val cust = s.read.parquet(s"$root/customer")
    val orders = s.read.parquet(s"$root/orders")
    val li = s.read.parquet(s"$root/lineitem")
    val doomedC = cust.filter(expr("c_acctbal < 0.0"))
      .select(col("c_custkey").as("k")).localCheckpoint()
    val doomedO = orders
      .join(doomedC, orders("o_custkey") === doomedC("k"), "left_semi")
      .select(col("o_orderkey").as("k")).localCheckpoint()
    def rewrite(path: String, survivors: DataFrame): Unit = {
      ParquetSink.write(survivors, path + ".staging")
      TableSwap.swapIn(s, path, path + ".staging", retain = 1)
    }
    rewrite(s"$root/customer",
      cust.join(doomedC, cust("c_custkey") === doomedC("k"), "left_anti"))
    rewrite(s"$root/orders",
      orders.join(doomedC, orders("o_custkey") === doomedC("k"),
        "left_anti"))
    rewrite(s"$root/lineitem",
      li.join(doomedO, li("l_orderkey") === doomedO("k"), "left_anti"))
    val c2 = s.read.parquet(s"$root/customer")
    val o2 = s.read.parquet(s"$root/orders")
    val l2 = s.read.parquet(s"$root/lineitem")
    c2.agg(count(lit(1)).as("n_customers"))
      .crossJoin(o2.agg(count(lit(1)).as("n_orders")))
      .crossJoin(l2.agg(count(lit(1)).as("n_lineitems")))
      .crossJoin(o2.join(doomedC, o2("o_custkey") === doomedC("k"),
          "left_semi")
        .agg(count(lit(1)).as("orphan_orders")))
      .crossJoin(l2.join(doomedO, l2("l_orderkey") === doomedO("k"),
          "left_semi")
        .agg(count(lit(1)).as("orphan_items")))
  }

  val purgeCascadeSql: String =
    """WITH doomed_c AS (
      |  SELECT c_custkey FROM customer WHERE c_acctbal < 0.0),
      |surv_o AS (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_custkey NOT IN (SELECT c_custkey FROM doomed_c))
      |SELECT
      |  (SELECT COUNT(*) FROM customer WHERE NOT (c_acctbal < 0.0))
      |    AS n_customers,
      |  (SELECT COUNT(*) FROM surv_o) AS n_orders,
      |  (SELECT COUNT(*) FROM lineitem
      |   WHERE l_orderkey IN (SELECT o_orderkey FROM surv_o))
      |    AS n_lineitems,
      |  CAST(0 AS BIGINT) AS orphan_orders,
      |  CAST(0 AS BIGINT) AS orphan_items""".stripMargin

  /** Soft delete via deletion vectors, then physical apply — the
    * lakehouse delete lifecycle the purge engine's immediate rewrite
    * doesn't cover: deletes land first as a KEY TABLE (cheap, no
    * data-file rewrite — the "deletion vector"), reads mask them
    * with an anti-join, and a later maintenance pass applies them
    * physically (anti-join rewrite + atomic swap). The gate runs the
    * WHOLE lifecycle on staged copies and emits the logical-read and
    * physical-read ledgers side by side — the oracle pins them to
    * the same numbers, so a masking/apply divergence (the classic
    * deletion-vector bug) fails the hash.
    *
    * Scale: the soft path defers the O(data) rewrite to one
    * compaction; the mask is an anti-join on the key — broadcast
    * while the vector is small, the exact trade deletion vectors
    * exist to exploit. */
  def purgeSoftDelete(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "purge_softdel")
    graft.Scaffold.setup {
      ParquetSink.write(Tables.documents(s, dir), s"$root/docs")
      ParquetSink.write(
        Tables.documents(s, dir).filter(col("doc_id") % 7 === 0)
          .select(col("doc_id")), s"$root/deletes")
    }
    val docs = s.read.parquet(s"$root/docs")
    val dels = s.read.parquet(s"$root/deletes")
    // materialize the logical read BEFORE the physical swap below
    // replaces the files this lazy plan would otherwise re-scan
    val logical = docs.join(broadcast(dels), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_visible_logical"),
        sum(col("n_chars")).as("chars_logical"))
      .localCheckpoint()
    // physical apply: rewrite without deleted keys, atomic swap
    ParquetSink.write(
      docs.join(broadcast(dels), Seq("doc_id"), "left_anti"),
      s"$root/docs.staging")
    TableSwap.swapIn(s, s"$root/docs", s"$root/docs.staging", retain = 1)
    val physical = s.read.parquet(s"$root/docs")
      .agg(count(lit(1)).as("n_visible_physical"),
        sum(col("n_chars")).as("chars_physical"))
    Tables.documents(s, dir)
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("doc_id") % 7 === 0, 1L).otherwise(0L))
          .as("n_deleted"))
      .crossJoin(logical).crossJoin(physical)
  }

  val purgeSoftDeleteSql: String =
    """WITH v AS (
      |  SELECT COUNT(*) AS nv,
      |    CAST(SUM(n_chars) AS BIGINT) AS ch
      |  FROM documents WHERE doc_id % 7 <> 0)
      |SELECT
      |  (SELECT COUNT(*) FROM documents) AS n_total,
      |  (SELECT CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
      |     AS BIGINT) FROM documents) AS n_deleted,
      |  nv AS n_visible_logical, ch AS chars_logical,
      |  nv AS n_visible_physical, ch AS chars_physical
      |FROM v""".stripMargin

  /** Nested JSONL round-trip — the document-shaped ingest the flat
    * conv gates don't cover: each order is exported as ONE JSON line
    * holding a struct-array of its line items (the natural API-dump
    * shape), re-ingested under an EXPLICIT nested schema (array of
    * struct — no schema inference, the production discipline), then
    * re-flattened with explode and aggregated. The oracle computes
    * the same rollup from the original relational tables, so the
    * nest → serialize → parse → unnest cycle must be lossless.
    *
    * Scale: nesting is a per-order collect_list (one shuffle on the
    * order key — the natural partitioning); parse + explode are
    * scan-side; JSONL stays line-splittable. */
  def convJsonlNested(s: SparkSession, dir: String): DataFrame = {
    val jsonDir = scratch(dir, "conv_nested_jsonl")
    graft.Scaffold.setup {
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(
          col("l_linenumber").cast(LongType).as("ln"),
          col("l_partkey").as("pk"),
          col("l_quantity").cast(DecimalType(18, 2)).as("qty"))))
          .as("items"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey").as("l_orderkey"),
            col("o_orderstatus")), "l_orderkey")
        .write.mode("overwrite").json(jsonDir)
    }
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("items", ArrayType(StructType(Seq(
        StructField("ln", LongType),
        StructField("pk", LongType),
        StructField("qty", DecimalType(18, 2))))))))
    s.read.schema(schema).json(jsonDir)
      .select(col("o_orderstatus"), explode(col("items")).as("it"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("it.pk")).as("n_parts"),
        sum(col("it.qty")).cast(DoubleType).as("sum_qty"),
        max(col("it.ln")).as("max_line"))
      .orderBy(col("o_orderstatus"))
  }

  val convJsonlNestedSql: String =
    """SELECT o.o_orderstatus, COUNT(*) AS n_items,
      |  COUNT(DISTINCT l.l_partkey) AS n_parts,
      |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_qty,
      |  CAST(MAX(l.l_linenumber) AS BIGINT) AS max_line
      |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |GROUP BY o.o_orderstatus
      |ORDER BY o.o_orderstatus""".stripMargin

  /** Legacy-charset CSV ingest (ISO-8859-1): enterprise CSV drops
    * routinely arrive in Latin-1, and a reader that assumes UTF-8
    * silently mojibakes every non-ASCII byte. Each document's text
    * is wrapped with Latin-1-only characters (é » « ñ), written as
    * ISO-8859-1 CSV via the writer's `encoding` option, re-ingested
    * with the DECLARED charset, and audited row-by-row against the
    * expected expression recomputed from parquet — n_mismatch is
    * oracle-pinned to 0, so one mis-decoded byte fails the gate.
    * Charset decode is a per-record scan-side concern; splittability
    * and parallelism are unchanged at 100 TB. */
  def convCsvLatin1(s: SparkSession, dir: String): DataFrame = {
    val csvDir = scratch(dir, "conv_latin1")
    def wrapped = concat(lit("café»"),
      substring(col("text"), 1, 30), lit("«ñ"))
    val expect = Tables.documents(s, dir)
      .select(col("doc_id"), wrapped.as("t_ex"))
    graft.Scaffold.setup {
      expect.select(col("doc_id"), col("t_ex").as("t"))
        .write.mode("overwrite")
        .option("header", "true").option("encoding", "ISO-8859-1")
        .csv(csvDir)
    }
    val back = s.read
      .option("header", "true").option("encoding", "ISO-8859-1")
      .csv(csvDir)
      .select(col("doc_id").cast(LongType).as("doc_id"),
        col("t").as("t_rt"))
    back.join(expect, Seq("doc_id"), "full_outer")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("t_rt").isNull || col("t_ex").isNull ||
          col("t_rt") =!= col("t_ex"), 1L).otherwise(0L))
          .as("n_mismatch"),
        sum(length(col("t_ex"))).as("sum_len"),
        countDistinct(col("t_ex")).as("n_distinct"))
  }

  val convCsvLatin1Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    'café»' || substr(text, 1, 30) || '«ñ' AS t
      |  FROM documents)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(0 AS BIGINT) AS n_mismatch,
      |  CAST(SUM(length(t)) AS BIGINT) AS sum_len,
      |  COUNT(DISTINCT t) AS n_distinct
      |FROM t""".stripMargin

  /** Tamper-evident audit chain — hardening for the reference's
    * audit sink (Q9): a hash-chained ledger where each entry's
    * digest folds in its predecessor's
    * (`h_i = md5(h_{i−1} || key || payload)`), so any retroactive
    * edit breaks every later digest. Built with WITH RECURSIVE (the
    * q46 machinery carrying STATE, not just traversal) over a
    * row_number-ranked 64-entry ledger slice — audit ledgers are
    * metadata-sized by nature, and 64 stays under Spark's default
    * recursion-depth limit of 100. md5 hex is byte-identical across
    * engines, so the oracle re-derives the full chain. */
  def purgeAuditChain(s: SparkSession, dir: String): DataFrame = {
    // The ledger slice is metadata-sized BY CONSTRUCTION (64
    // entries) and hash-chaining is inherently sequential, so the
    // chain folds driver-side over the collected slice — the
    // [[TimeSeries]] Markov-chain precedent (64 recursion levels
    // through the engine were pure scheduler latency: 25 s inlined,
    // 7.3 s even with the slice cached, <1 s folded). The ORACLE
    // still re-derives the chain independently via its own
    // WITH RECURSIVE, so the gate compares two implementations.
    val slice = Tables.orders(s, dir)
      .orderBy(col("o_orderkey")).limit(64)
      .select(col("o_orderkey"), col("o_orderstatus")).collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(x: String): String =
      md.digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var h = md5hex("genesis")
    val rows = scala.collection.mutable.ArrayBuffer((0L, h))
    slice.zipWithIndex.foreach { case (r, i) =>
      h = md5hex(s"$h|${r.getLong(0)}|${r.getString(1)}")
      rows += ((i + 1L, h))
    }
    import s.implicits._
    rows.toSeq.toDF("rn", "h").orderBy(col("rn"))
  }

  val purgeAuditChainSql: String =
    """WITH RECURSIVE audit AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS st,
      |    CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT)
      |      AS rn
      |  FROM orders ORDER BY o_orderkey LIMIT 64),
      |chain(rn, h) AS (
      |  SELECT CAST(0 AS BIGINT), md5('genesis')
      |  UNION ALL
      |  SELECT a.rn,
      |    md5(c.h || '|' || CAST(a.k AS VARCHAR) || '|' || a.st)
      |  FROM audit a JOIN chain c ON a.rn = c.rn + 1)
      |SELECT rn, h FROM chain ORDER BY rn""".stripMargin

  /** Fixed-width round-trip: the fourth text source format
    * (offset-bound — see [[graft.sources.FixedWidthIngest]]). The
    * table is exported as padded fixed-width lines, re-ingested under
    * the declared widths, and aggregated; the oracle computes the
    * same aggregate over the original parquet, proving the slicing
    * arithmetic and the shared cast contract are value-preserving. */
  def convFixedWidthRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val fwDir = scratch(dir, "conv_fixedwidth")
    val src = Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
      col("l_returnflag"),
      date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .as("l_shipdate"))
    val widths = Seq(12, 10, 14, 2, 27)
    graft.Scaffold.setup {
      graft.sources.FixedWidthIngest.write(src, widths, fwDir)
    }
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_quantity", DecimalType(18, 2)),
      StructField("l_extendedprice", DecimalType(18, 2)),
      StructField("l_returnflag", StringType),
      StructField("l_shipdate", TimestampNTZType)))
    graft.sources.FixedWidthIngest.read(s, fwDir, schema, widths)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice")).cast(DoubleType).as("sum_price"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"))
      .orderBy(col("l_returnflag"))
  }

  val convFixedWidthRoundtripSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  MIN(l_shipdate) AS min_ship,
      |  MAX(l_shipdate) AS max_ship
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** XML round-trip: the fifth text source format, served by the XML
    * datasource Spark 4 bundles in sql/core (SPARK-44751) — no
    * external connector jar. Lineitem is exported one `<lineitem>`
    * element per row, re-read under a declared schema (timestamps
    * travel as formatted strings, the same micros-preserving contract
    * as the fixed-width gate), and aggregated along the l_linestatus
    * axis so the five conv gates stay mutually independent. The
    * oracle reads the original parquet — equality proves the XML
    * writer/parser pair is value-preserving for longs, decimals, and
    * micros timestamps.
    *
    * Scale: the XML reader splits files like any text source, and the
    * declared schema keeps parsing single-pass (no schema inference
    * scan); at 100 TB the ingest parallelizes per-file exactly like
    * the CSV path. */
  def convXmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val xmlDir = scratch(dir, "conv_roundtrip_xml")
    graft.Scaffold.setup {
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_linestatus"),
          date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("l_shipdate"))
        // The parquet source arrives as ONE split; without this the
        // export is a single XML file and the StAX parse below runs
        // on one core (XML is not block-splittable like CSV).
        .repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .format("xml").option("rowTag", "lineitem")
        .save(xmlDir)
    }
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DecimalType(18, 2)),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", StringType)))
    s.read.format("xml").option("rowTag", "lineitem")
      .schema(schema).load(xmlDir)
      .withColumn("l_shipdate", to_timestamp_ntz(col("l_shipdate"),
        lit("yyyy-MM-dd HH:mm:ss.SSSSSS")))
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast(DoubleType).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"))
      .orderBy(col("l_linestatus"))
  }

  val convXmlRoundtripSql: String =
    """SELECT l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  MIN(l_shipdate) AS min_ship,
      |  MAX(l_shipdate) AS max_ship
      |FROM lineitem
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** Semi-structured weblog ingest: events are staged as Apache
    * combined-log lines (`ip - user [ts] "GET /path HTTP/1.1" status
    * bytes` — the classic untyped text telemetry a pipeline actually
    * receives), then re-ingested with `spark.read.text` + ONE
    * `regexp_extract` pattern into typed columns and aggregated. The
    * oracle re-derives the same aggregate from the original `events`
    * parquet — equality proves the regex parse, the timestamp
    * round-trip (second granularity, the format's own ceiling), and
    * the derived-field arithmetic are all lossless.
    *
    * Scale: text ingest is block-splittable; the parse is a pure
    * codegen projection (regexp_extract + casts) at scan speed, and
    * the only shuffle is the final per-path reduce. This is the
    * log-parsing shape for any 100 TB raw-telemetry backfill. */
  def convWeblogParse(s: SparkSession, dir: String): DataFrame = {
    val logDir = scratch(dir, "conv_weblog")
    graft.Scaffold.setup {
      Tables.events(s, dir)
        .select(format_string(
          "%s - u%d [%s +0000] \"GET /%s HTTP/1.1\" %d %d",
          concat_ws(".",
            expr("user_id div 16777216") % 256,
            expr("user_id div 65536") % 256,
            expr("user_id div 256") % 256,
            col("user_id") % 256),
          col("user_id"),
          date_format(col("ts"), "dd/MMM/yyyy:HH:mm:ss"),
          col("event_type"),
          lit(200) + (col("event_id") % 2) * 104,
          col("event_id") % 10000).as("value"))
        .write.mode("overwrite").text(logDir)
    }
    val re = "^(\\S+) - (\\S+) \\[([^\\]]+)\\] " +
      "\"(\\S+) (\\S+) [^\"]*\" (\\d{3}) (\\d+)$"
    s.read.text(logDir)
      .select(
        regexp_extract(col("value"), re, 1).as("ip"),
        to_timestamp(regexp_extract(col("value"), re, 3),
          "dd/MMM/yyyy:HH:mm:ss Z").as("ts"),
        regexp_extract(col("value"), re, 5).as("path"),
        regexp_extract(col("value"), re, 6).cast(IntegerType).as("status"),
        regexp_extract(col("value"), re, 7).cast(LongType).as("bytes"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_req"),
        countDistinct(col("ip")).as("n_ips"),
        sum(col("bytes")).as("sum_bytes"),
        sum(when(col("status") === 304, 1L).otherwise(0L)).as("n_304"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"))
      .orderBy(col("path"))
  }

  // All four octets derive from user_id, so ip ↔ user_id is injective
  // below 2^32 (any realistic user-id space) and COUNT(DISTINCT ip)
  // on the parsed side equals COUNT(DISTINCT user_id) on the source.
  val convWeblogParseSql: String =
    """SELECT '/' || event_type AS path, COUNT(*) AS n_req,
      |  COUNT(DISTINCT user_id) AS n_ips,
      |  CAST(SUM(event_id % 10000) AS BIGINT) AS sum_bytes,
      |  CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_304,
      |  date_trunc('second', MIN(ts)) AS min_ts,
      |  date_trunc('second', MAX(ts)) AS max_ts
      |FROM events GROUP BY event_type
      |ORDER BY path""".stripMargin

  /** RFC-4180 torture round-trip: every document's text is wrapped in
    * a field that stacks the format's worst cases — embedded commas,
    * embedded DOUBLED quotes, an embedded NEWLINE, and a tab — then
    * written to CSV (quoteAll, quote-escape `""` per RFC-4180, NOT
    * the backslash default) and re-ingested with `multiLine`. The
    * gate does a per-row equality audit (round-tripped value vs the
    * expected expression recomputed from parquet) and emits aggregate
    * evidence: `n_mismatch` must be the oracle's constant 0, and the
    * newline count proves embedded line breaks survived rather than
    * splitting records.
    *
    * Scale note (the reason this gate exists): quoted-newline CSV is
    * NOT line-splittable, so `multiLine` parses each FILE whole — at
    * 100 TB that means many medium files (parallelism = file count),
    * never one giant CSV. The converter's per-file isolation (X1)
    * already matches that shape. */
  def convCsvTortures(s: SparkSession, dir: String): DataFrame = {
    val csvDir = scratch(dir, "conv_tortures")
    def torture = concat(lit("a,\"b\n"),
      substring(col("text"), 1, 40), lit("\"q\"\t,end"))
    val expect = Tables.documents(s, dir)
      .select(col("doc_id"), torture.as("t_ex"))
    graft.Scaffold.setup {
      expect.select(col("doc_id"), col("t_ex").as("t"))
        .write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .option("escape", "\"")
        .csv(csvDir)
    }
    val back = s.read
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"")
      .csv(csvDir)
      .select(col("doc_id").cast(LongType).as("doc_id"),
        col("t").as("t_rt"))
    back.join(expect, Seq("doc_id"), "full_outer")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("t_rt").isNull || col("t_ex").isNull ||
          col("t_rt") =!= col("t_ex"), 1L).otherwise(0L))
          .as("n_mismatch"),
        sum(length(col("t_ex"))).as("sum_len"),
        sum(expr(
          "length(t_ex) - length(replace(t_ex, chr(10), ''))"))
          .as("n_newlines"),
        countDistinct(col("t_ex")).as("n_distinct"))
  }

  val convCsvTorturesSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    'a,"b' || chr(10) || substr(text, 1, 40) || '"q"'
      |      || chr(9) || ',end' AS t
      |  FROM documents)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(0 AS BIGINT) AS n_mismatch,
      |  CAST(SUM(length(t)) AS BIGINT) AS sum_len,
      |  CAST(SUM(length(t) - length(replace(t, chr(10), ''))) AS BIGINT)
      |    AS n_newlines,
      |  COUNT(DISTINCT t) AS n_distinct
      |FROM t""".stripMargin

  /** Parquet zstd round-trip: the reference pins snappy (`K1`); a
    * fleet migrating cold data to zstd (2–3× smaller at similar scan
    * cost — the standard archival codec move) needs proof the write →
    * re-read path is lossless UNDER THE NON-DEFAULT CODEC, not just
    * configured. Stages `documents` as zstd parquet, re-reads, and
    * fingerprints per source: counts, char totals, id extremes, and
    * distinct texts — all exact; the oracle recomputes them from the
    * original table, so one flipped bit anywhere fails the hash.
    * Codec choice is per-file metadata in parquet: scans, pruning,
    * pushdown and splittability are unchanged at 100 TB. */
  def convParquetZstd(s: SparkSession, dir: String): DataFrame = {
    val outDir = scratch(dir, "conv_zstd")
    graft.Scaffold.setup {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
        .write.mode("overwrite")
        .option("compression", "zstd").parquet(outDir)
    }
    s.read.parquet(outDir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        countDistinct(col("text")).as("n_texts"))
      .orderBy(col("source"))
  }

  val convParquetZstdSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
      |  COUNT(DISTINCT text) AS n_texts
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** binaryFile-source ingest: the front door for multimodal payloads
    * (SURVEY §2.9) — opaque image/audio/video blobs land as files and
    * enter the engine through `spark.read.format("binaryFile")`, which
    * yields (path, modificationTime, length, content) with
    * pathGlobFilter/length pushdown. The gate stages one `.bin` file
    * per document (UTF-8 text bytes, so content is deterministic),
    * reads them back, and fingerprints each file (byte length + md5).
    * The oracle computes the same fingerprints straight from the
    * `documents` table — md5 over a DuckDB VARCHAR hashes its UTF-8
    * bytes, exactly what Spark's md5 sees from the file — so the gate
    * needs no scratch-path knowledge on the oracle side.
    *
    * Scale: binaryFile is a standard FileScan — per-file tasks,
    * column pruning (skip `content` when only metadata is selected),
    * and glob/length filters pushed to the listing, the right shape
    * for a 100 TB blob corpus. */
  def convBinaryFiles(s: SparkSession, dir: String): DataFrame = {
    val binDir = scratch(dir, "conv_binaryfiles")
    graft.Scaffold.setup {
      // Fixture staging: 40 metadata-sized rows written as loose files
      // on the driver — the operator under test is the distributed
      // binaryFile READ below, not this scaffolding.
      val p = java.nio.file.Paths.get(binDir)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
      java.nio.file.Files.createDirectories(p)
      Tables.documents(s, dir).filter(col("doc_id") < 40)
        .select(col("doc_id"), col("text")).collect()
        .foreach { r =>
          java.nio.file.Files.write(p.resolve(s"doc_${r.getLong(0)}.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
    }
    s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
      .load(binDir)
      .select(
        element_at(split(col("path"), "/"), -1).as("fname"),
        col("length").as("n_bytes"),
        md5(col("content")).as("content_md5"))
      .orderBy(col("fname"))
  }

  val convBinaryFilesSql: String =
    """SELECT 'doc_' || doc_id || '.bin' AS fname,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS content_md5
      |FROM documents WHERE doc_id < 40
      |ORDER BY fname""".stripMargin

  /** Time-travel read over the keep-last-N savepoint ring (Q7 /
    * reference `AutoPurge.sql:81-92` ROLLBACK parity, exposed as a
    * QUERYABLE generation instead of only a restore): purge with
    * `retainBackups=1`, then read generation -1 (`<path>.bak0`) —
    * it must equal the pre-purge table exactly while the current
    * generation holds only survivors. Emits both generations'
    * fingerprints so one hash gate pins old = full table AND
    * new = survivors. */
  def purgeTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val (path, resolver) = copyOrders(s, dir, "purge_time_travel")
    new Purge.Engine(s, resolver, retainBackups = 1).run(
      Seq(Purge.PurgeConfig("graft", "orders", "CRITERIA", Criteria,
        maxRecordCount = Long.MaxValue)))
    def gen(p: String, label: String) = s.read.parquet(p)
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"),
        count_distinct(col("o_orderstatus")).as("n_status"))
      .select(lit(label).as("generation"), col("n"), col("key_sum"),
        col("n_status"))
    gen(s"$path.bak0", "previous").unionAll(gen(path, "current"))
      .orderBy(col("generation"))
  }

  val purgeTimeTravelSql: String =
    """SELECT 'current' AS generation, COUNT(*) AS n,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1997-01-01')
      |UNION ALL
      |SELECT 'previous', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
      |  CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
      |FROM orders
      |ORDER BY generation""".stripMargin

  /** Mutating `action='SQL'` (Q3, reference `AutoPurge.sql:129-138`):
    * a raw `DELETE FROM t WHERE c` config statement actually mutates
    * the parquet table (routed through the anti-rewrite), unlike a
    * temp-view no-op. Oracle: survivors on the original table. */
  def purgeSqlDelete(s: SparkSession, dir: String): DataFrame = {
    val (path, resolver) = copyOrders(s, dir, "purge_sql_delete")
    new Purge.Engine(s, resolver).run(
      Seq(Purge.PurgeConfig("graft", "orders", "SQL",
        s"DELETE FROM orders WHERE $Criteria",
        maxRecordCount = Long.MaxValue)))
    s.read.parquet(path)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val purgeSqlDeleteSql: String = purgeCriteriaDeleteSql

  /** Guard abort (A1): matching rows exceed maxRecordCount → purge
    * aborts, table untouched. Oracle: full row count. */
  def purgeGuardAbort(s: SparkSession, dir: String): DataFrame = {
    val (path, resolver) = copyOrders(s, dir, "purge_guard")
    new Purge.Engine(s, resolver).run(
      Seq(Purge.PurgeConfig("graft", "orders", "CRITERIA", Criteria,
        maxRecordCount = 10)))
    s.read.parquet(path).agg(count(lit(1)).as("n_remaining"))
  }

  val purgeGuardAbortSql: String =
    "SELECT COUNT(*) AS n_remaining FROM orders"

  /** Dry run (Q8): counts computed, nothing written. */
  def purgeDryRun(s: SparkSession, dir: String): DataFrame = {
    val (path, resolver) = copyOrders(s, dir, "purge_dryrun")
    new Purge.Engine(s, resolver, dryRun = true).run(
      Seq(Purge.PurgeConfig("graft", "orders", "CRITERIA", Criteria,
        maxRecordCount = Long.MaxValue)))
    s.read.parquet(path).agg(count(lit(1)).as("n_remaining"))
  }

  val purgeDryRunSql: String =
    "SELECT COUNT(*) AS n_remaining FROM orders"

  /** TRUNCATE fast path (Q3): SQL action empties the table without a
    * data scan. */
  def purgeTruncate(s: SparkSession, dir: String): DataFrame = {
    val (path, resolver) = copyOrders(s, dir, "purge_truncate")
    new Purge.Engine(s, resolver).run(
      Seq(Purge.PurgeConfig("graft", "orders", "SQL",
        "TRUNCATE TABLE orders", maxRecordCount = 0)))
    s.read.parquet(path).agg(count(lit(1)).as("n_remaining"))
  }

  val purgeTruncateSql: String =
    "SELECT CAST(0 AS BIGINT) AS n_remaining"

  /** Partition-pruned criteria delete: `orders` copied into a Hive
    * layout partitioned by `o_orderstatus`; a criteria on the
    * partition column executes as a directory drop, never touching
    * survivors. The gate captures the surviving partitions' file
    * inventory (relative path, length, mtime) before the purge and
    * proves it is identical after — the survivors were pruned, not
    * rewritten — and that the matching partition directory is gone.
    * Oracle: per-status aggregate of the surviving rows plus the two
    * constant assertions. */
  def purgePartitionDrop(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "purge_partdrop")
    val path = s"$root/orders"
    graft.Scaffold.setup {
      ParquetSink.writePartitioned(Tables.orders(s, dir), path,
        Seq("o_orderstatus"))
    }
    def survivorInventory(): Map[String, (Long, Long)] = {
      val base = java.nio.file.Paths.get(path)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .filterNot(_.toString.contains("o_orderstatus=F"))
        .map(p => base.relativize(p).toString ->
          (java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis))
        .toMap
    }
    val before = survivorInventory()
    new Purge.Engine(s, Purge.DirResolver(root)).run(
      Seq(Purge.PurgeConfig("graft", "orders", "CRITERIA",
        "o_orderstatus = 'F'", maxRecordCount = Long.MaxValue)))
    val intact = before.nonEmpty && survivorInventory() == before
    val dropped = !java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "o_orderstatus=F"))
    s.read.parquet(path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))
      .withColumn("survivors_intact", lit(intact))
      .withColumn("partition_dropped", lit(dropped))
      .orderBy(col("o_orderstatus"))
  }

  val purgePartitionDropSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(1 AS BOOLEAN) AS survivors_intact,
      |  CAST(1 AS BOOLEAN) AS partition_dropped
      |FROM orders WHERE o_orderstatus <> 'F'
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Missing-table validation (Q2): the engine skips-with-audit; the
    * real table is untouched. Surfaced as the audit row count for the
    * missing table (always exactly one skip event). */
  def purgeMissingTable(s: SparkSession, dir: String): DataFrame = {
    val (_, resolver) = copyOrders(s, dir, "purge_missing")
    val engine = new Purge.Engine(s, resolver)
    engine.run(
      Seq(Purge.PurgeConfig("graft", "no_such_table", "CRITERIA", "1=1",
        maxRecordCount = 0)))
    import s.implicits._
    engine.auditLog
      .filter(e => e.tableName == "no_such_table")
      .map(_ => 1L).toDF("skipped")
      .agg(count(lit(1)).cast(LongType).as("n_skip_events"))
  }

  val purgeMissingTableSql: String =
    "SELECT CAST(1 AS BIGINT) AS n_skip_events"

  /** Incremental-ingest ledger gate ([[graft.sources.IngestLedger]]):
    * two CSV batch drops arrive, run 1 ingests both; a third drop
    * arrives, run 2 ingests ONLY it; run 3 (nothing new) ingests
    * nothing — the exactly-once evidence. The final row aggregates
    * the assembled target table, which must equal the oracle's direct
    * aggregate of the same orders subset: the ledger pipeline is
    * value-preserving AND no batch was double-ingested (a duplicate
    * would double the final counts and break the hash). */
  def convLedger(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "conv_ledger")
    val src = s"$root/src"
    val led = s"$root/ledger.txt"
    val tgt = s"$root/tgt"
    val orders = Tables.orders(s, dir)
      .filter(col("o_custkey") < 300)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    def drop(m: Int): Unit =
      orders.filter(col("o_orderkey") % 3 === m)
        .write.mode("overwrite").option("header", "true")
        .csv(s"$src/drop$m")
    def readBatch(p: String): DataFrame =
      s.read.schema(orders.schema).option("header", "true").csv(p)
    Scaffold.setup { Scaffold.rm(s, root); drop(0); drop(1) }
    val r1 = graft.sources.IngestLedger.ingest(s, src, led, tgt, readBatch)
    graft.Scaffold.setup { drop(2) }
    val r2 = graft.sources.IngestLedger.ingest(s, src, led, tgt, readBatch)
    val r3 = graft.sources.IngestLedger.ingest(s, src, led, tgt, readBatch)
    def runRow(phase: String, r: graft.sources.IngestLedger.RunReport) =
      s.range(1).select(lit(phase).as("phase"),
        lit(r.newBatches.size.toLong).as("n_batches"),
        lit(r.rowsIngested).as("n_rows"),
        lit(null).cast(DoubleType).as("total_price"))
    val nLedger = graft.sources.IngestLedger.processed(s, led).size.toLong
    val finalRow = s.read.parquet(tgt).agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("total_price"))
      .select(lit("z_final").as("phase"), lit(nLedger).as("n_batches"),
        col("n_rows"), col("total_price"))
    runRow("run1", r1).union(runRow("run2", r2)).union(runRow("run3", r3))
      .union(finalRow)
      .orderBy(col("phase"))
  }

  val convLedgerSql: String =
    """WITH sub AS (
      |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey < 300)
      |SELECT 'run1' AS phase, CAST(2 AS BIGINT) AS n_batches,
      |  COUNT(*) AS n_rows, CAST(NULL AS DOUBLE) AS total_price
      |FROM sub WHERE o_orderkey % 3 IN (0, 1)
      |UNION ALL
      |SELECT 'run2', 1, COUNT(*), NULL FROM sub WHERE o_orderkey % 3 = 2
      |UNION ALL
      |SELECT 'run3', 0, 0, NULL
      |UNION ALL
      |SELECT 'z_final', 3, COUNT(*),
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |FROM sub
      |ORDER BY phase""".stripMargin

  // ---------------------------------------------------------------- //

  // ---------------------------------------------------------------- //

  /** Multi-character-delimiter CSV round-trip (`||` separator) — the
    * ingest dialect legacy exports actually ship (reference `S2`
    * generalized): write orders out `||`-separated with a status
    * value that CONTAINS a single `|` (so quoting, not splitting,
    * must carry it), read it back, and reconcile against the source
    * relation field by field.
    *
    * Scale: the round-trip is per-file parallel on both sides; the
    * reconciliation is one full-outer join on the key — the
    * fixture-scale version of a migration backfill check. */
  def convCsvMultichar(s: SparkSession, dir: String): DataFrame = {
    val csvDir = scratch(dir, "conv_multichar")
    val expect = Tables.orders(s, dir).select(
      col("o_orderkey"),
      concat(col("o_orderstatus"), lit("|"),
        col("o_orderpriority")).as("tag_ex"),
      col("o_totalprice").cast(DecimalType(18, 2)).as("p_ex"))
    graft.Scaffold.setup {
      expect.select(col("o_orderkey"), col("tag_ex").as("tag"),
          col("p_ex").as("p"))
        .write.mode("overwrite")
        .option("header", "true").option("sep", "||").csv(csvDir)
    }
    val back = s.read
      .option("header", "true").option("sep", "||").csv(csvDir)
      .select(col("o_orderkey").cast(LongType).as("o_orderkey"),
        col("tag").as("tag_rt"),
        col("p").cast(DecimalType(18, 2)).as("p_rt"))
    back.join(expect, Seq("o_orderkey"), "full_outer")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("tag_rt").isNull || col("tag_ex").isNull ||
          col("tag_rt") =!= col("tag_ex") ||
          col("p_rt") =!= col("p_ex"), 1L).otherwise(0L))
          .as("n_mismatch"),
        (sum(col("p_ex")) * 100).cast(LongType).as("sum_cents"),
        countDistinct(col("tag_ex")).as("n_tags"))
  }

  val convCsvMulticharSql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(0 AS BIGINT) AS n_mismatch,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
      |    AS BIGINT) AS sum_cents,
      |  COUNT(DISTINCT o_orderstatus || '|' || o_orderpriority)
      |    AS n_tags
      |FROM orders""".stripMargin

  /** GDPR crypto-shredding lifecycle (reference purge family Q4
    * hardened): PII-bearing values are stored ONLY as
    * `cents XOR key(custkey)` with per-customer keys in a separate
    * key table; erasure = deleting the key rows (here every custkey
    * ≡ 0 mod 10), after which the ciphertext is information-free.
    * The readable aggregate decodes through the surviving keys and
    * is reconciled against the plaintext relation (`n_corrupt` must
    * be 0); the oracle computes the readable sums INDEPENDENTLY from
    * plaintext, so a broken decode cannot hash green.
    *
    * Scale: the key table is O(customers) and joins by key —
    * broadcast at dim scale, shuffle-join at fact scale; encode and
    * decode are pure projections (two's-complement XOR is
    * engine-portable). */
  def purgeCryptoShred(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select(
      col("c_custkey"), col("c_mktsegment"),
      (col("c_acctbal").cast(DecimalType(18, 2)) * 100)
        .cast(LongType).as("cents"))
    val keyed = cust.withColumn("key",
      expr("(c_custkey * 2654435761) % 4294967296"))
    // the at-rest store: ciphertext only, no plaintext column
    val enc = keyed.select(col("c_custkey"), col("c_mktsegment"),
      expr("cents ^ key").as("cipher"))
    // erasure batch: custkey % 10 == 0 keys are shredded
    val keys = keyed.filter(col("c_custkey") % 10 =!= 0)
      .select(col("c_custkey"), col("key"))
    enc.join(keys, Seq("c_custkey"), "left")
      .withColumn("decoded", expr("cipher ^ key"))
      .join(cust.select(col("c_custkey"), col("cents")), "c_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("key").isNull, 1L).otherwise(0L))
          .as("n_shredded"),
        sum(when(col("key").isNotNull, col("decoded"))
          .otherwise(0L)).as("readable_cents"),
        sum(when(col("key").isNotNull &&
          col("decoded") =!= col("cents"), 1L).otherwise(0L))
          .as("n_corrupt"))
      .orderBy(col("c_mktsegment"))
  }

  val purgeCryptoShredSql: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM customer)
      |SELECT c_mktsegment, COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_shredded,
      |  CAST(SUM(CASE WHEN c_custkey % 10 <> 0 THEN cents ELSE 0 END)
      |    AS BIGINT) AS readable_cents,
      |  CAST(0 AS BIGINT) AS n_corrupt
      |FROM cust GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Criteria delete under LEGAL HOLD (reference purge Q4 + the
    * compliance constraint every real retention sweep carries): rows
    * matching the deletion criteria whose customer is on the hold
    * list MUST survive the purge. The hold list is a key table
    * broadcast into an anti-join; the rewrite + atomic swap is the
    * purge engine's standard copy-on-write; counts are re-read FROM
    * THE SWAPPED TABLE so the gate proves the on-disk state, not a
    * plan.
    *
    * Scale: hold lists are O(held entities) — broadcast; the rewrite
    * is one anti-join pass, same as criteria delete. */
  def purgeLegalHold(s: SparkSession, dir: String): DataFrame = {
    val base = scratch(dir, "legal_hold/orders")
    graft.Scaffold.setup {
      Tables.orders(s, dir).write.mode("overwrite").parquet(base)
    }
    val o = s.read.parquet(base)
    val holds = o.select(col("o_custkey")).distinct()
      .filter(col("o_custkey") % 97 === 0) // the hold-list key table
    val crit = col("o_orderdate") <
      lit("1996-01-01 00:00:00").cast(TimestampType)
    val matched = o.filter(crit)
    val toDelete = matched
      .join(broadcast(holds), Seq("o_custkey"), "left_anti")
    val nBefore = o.count()
    val nMatched = matched.count()
    val nDelete = toDelete.count()
    val staging = base + ".staging"
    o.join(toDelete.select(col("o_orderkey")), Seq("o_orderkey"),
        "left_anti")
      .write.mode("overwrite").parquet(staging)
    TableSwap.swapIn(s, base, staging)
    val nAfter = s.read.parquet(base).count()
    import s.implicits._
    Seq((nBefore, nMatched, nMatched - nDelete, nDelete, nAfter))
      .toDF("n_before", "n_matched", "n_held", "n_deleted", "n_after")
  }

  val purgeLegalHoldSql: String =
    """WITH m AS (
      |  SELECT * FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
      |SELECT (SELECT COUNT(*) FROM orders) AS n_before,
      |  (SELECT COUNT(*) FROM m) AS n_matched,
      |  (SELECT COUNT(*) FROM m WHERE o_custkey % 97 = 0) AS n_held,
      |  (SELECT COUNT(*) FROM m WHERE o_custkey % 97 <> 0)
      |    AS n_deleted,
      |  (SELECT COUNT(*) FROM orders)
      |    - (SELECT COUNT(*) FROM m WHERE o_custkey % 97 <> 0)
      |    AS n_after""".stripMargin

  /** Whole-CATALOG inventory — the reference's single-table stats
    * probe (`AutoPurge.sql` row-count guards) widened to the full
    * catalog: one row per physical table with its row count and
    * physical column count, straight from the parquet footers and
    * schemas. The first report any migration, audit, or capacity
    * plan asks for; counts are footer metadata reads, not scans. */
  def reportCatalog(s: SparkSession, dir: String): DataFrame = {
    val tables = Seq("customer", "documents", "embeddings", "events",
      "lineitem", "nation", "orders", "part", "region", "supplier")
    import s.implicits._
    tables.map { t =>
      // Through [[Tables]] for the catalog-style schema cache (round
      // 13): the schema IS the cached inference result for this path,
      // so n_cols is unchanged, and the row counts below are still
      // live footer-metadata count() jobs — only the 10 redundant
      // re-inference jobs (~70 ms each) are gone.
      val df = Tables(s, dir, t)
      (t, df.count(), df.schema.fields.length.toLong)
    }.toDF("table_name", "n_rows", "n_cols")
      .orderBy(col("table_name"))
  }

  val reportCatalogSql: String =
    """SELECT 'customer' AS table_name,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(5 AS BIGINT) AS n_cols FROM customer
      |UNION ALL SELECT 'documents', CAST(COUNT(*) AS BIGINT),
      |  CAST(5 AS BIGINT) FROM documents
      |UNION ALL SELECT 'embeddings', CAST(COUNT(*) AS BIGINT),
      |  CAST(3 AS BIGINT) FROM embeddings
      |UNION ALL SELECT 'events', CAST(COUNT(*) AS BIGINT),
      |  CAST(6 AS BIGINT) FROM events
      |UNION ALL SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
      |  CAST(11 AS BIGINT) FROM lineitem
      |UNION ALL SELECT 'nation', CAST(COUNT(*) AS BIGINT),
      |  CAST(3 AS BIGINT) FROM nation
      |UNION ALL SELECT 'orders', CAST(COUNT(*) AS BIGINT),
      |  CAST(6 AS BIGINT) FROM orders
      |UNION ALL SELECT 'part', CAST(COUNT(*) AS BIGINT),
      |  CAST(6 AS BIGINT) FROM part
      |UNION ALL SELECT 'region', CAST(COUNT(*) AS BIGINT),
      |  CAST(2 AS BIGINT) FROM region
      |UNION ALL SELECT 'supplier', CAST(COUNT(*) AS BIGINT),
      |  CAST(4 AS BIGINT) FROM supplier
      |ORDER BY table_name""".stripMargin

  /** File-level PROVENANCE tagging (`input_file_name`) — the
    * debugging primitive every 100 TB incident response starts with:
    * which physical file did this bad row come from? The gate writes
    * a 2-file table, re-reads it with per-row file provenance, and
    * proves the tags partition the rows exactly (2 distinct files,
    * row counts reconcile, zero untagged rows). The provenance
    * column is plan-level metadata — no data is widened or
    * shuffled to carry it. */
  def convProvenance(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "provenance")
    Tables.orders(s, dir).repartition(2)
      .write.mode("overwrite").parquet(out)
    val perFile = s.read.parquet(out)
      .select(input_file_name().as("f"))
      .groupBy(col("f")).agg(count(lit(1)).as("n"))
    val r = perFile.agg(count(lit(1)).as("n_files"),
      sum(col("n")).as("n_rows"),
      sum(when(col("f") === "" || col("f").isNull, 1L).otherwise(0L))
        .as("n_untagged")).head()
    import s.implicits._
    Seq((r.getLong(0), r.getLong(1), r.getLong(2) == 0L))
      .toDF("n_files", "n_rows", "all_tagged")
  }

  val convProvenanceSql: String =
    """SELECT CAST(2 AS BIGINT) AS n_files,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows, true AS all_tagged
      |FROM orders""".stripMargin

  /** DYNAMIC partition overwrite — the INSERT OVERWRITE semantics
    * every partitioned lakehouse table depends on: with the write
    * option `partitionOverwriteMode=dynamic`, an overwrite REPLACES only
    * the partitions present in the incoming batch and leaves every
    * other partition byte-untouched (static mode would truncate the
    * whole table first — the classic data-loss foot-gun this gate
    * exists to pin). Drives a real two-write sequence: full
    * partitioned write, then a restated batch for ONE month with
    * doubled prices; the audit re-reads disk and checks the restated
    * month changed and a control month did not, by exact cents.
    *
    * Scale: overwrite cost is proportional to the restated
    * partitions, not the table — the entire point at 100 TB. */
  def convDynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val base = scratch(dir, "dyn_overwrite/orders")
    val o = Tables.orders(s, dir)
      .withColumn("mon", date_format(col("o_orderdate"), "yyyy-MM"))
    graft.Scaffold.setup {
      o.write.mode("overwrite").partitionBy("mon").parquet(base)
    }
    val target = "1995-03"
    val control = "1995-06"
    val restated = o.filter(col("mon") === target)
      .withColumn("o_totalprice", col("o_totalprice") * 2.0)
    // A per-write option, which Spark's file-source insert reads
    // before the session setting: the session conf never changes.
    restated.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("mon").parquet(base)
    val after = s.read.parquet(base)
    def cents(mon: String) = after.filter(col("mon") === mon)
      .agg(coalesce(sum(expr(
        "CAST(ROUND(o_totalprice * 100) AS BIGINT)")), lit(0L)))
      .head().getLong(0)
    import s.implicits._
    Seq((after.count(), cents(target), cents(control)))
      .toDF("n_rows", "restated_cents", "control_cents")
  }

  val convDynamicOverwriteSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN strftime(o_orderdate, '%Y-%m') = '1995-03'
      |    THEN CAST(ROUND(o_totalprice * 2.0 * 100) AS BIGINT)
      |    ELSE 0 END) AS BIGINT) AS restated_cents,
      |  CAST(SUM(CASE WHEN strftime(o_orderdate, '%Y-%m') = '1995-06'
      |    THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
      |    ELSE 0 END) AS BIGINT) AS control_cents
      |FROM orders""".stripMargin

  /** GDPR Art. 16 RECTIFICATION — the UPDATE leg of the privacy
    * surface (Art. 17 delete = the purge gates, Art. 15 read =
    * subject export): correct the named subjects' records IN PLACE
    * via rewrite-and-atomic-swap (non-subject rows pass through the
    * rewrite byte-identical), then prove from the ON-DISK table that
    * (a) every subject row now carries the corrected segment, and
    * (b) non-subject content is untouched — pinned by an exact
    * cents checksum over the non-subject rows, not just a count.
    *
    * Scale: the rewrite is one anti-join + union projection; the
    * swap is O(1) renames; no row is read twice. */
  def purgeRectify(s: SparkSession, dir: String): DataFrame = {
    val base = scratch(dir, "rectify/customer")
    graft.Scaffold.setup {
      Tables.customer(s, dir).write.mode("overwrite").parquet(base)
    }
    val c = s.read.parquet(base)
    val subject = col("c_custkey") % 97 === 0
    val nBefore = c.count()
    val corrected = c.filter(subject)
      .withColumn("c_mktsegment", lit("RECTIFIED"))
    val staging = base + ".staging"
    c.filter(!subject).unionByName(corrected)
      .write.mode("overwrite").parquet(staging)
    TableSwap.swapIn(s, base, staging)
    val after = s.read.parquet(base)
    val audit = after.agg(
      count(lit(1)).as("n_after"),
      sum(when(col("c_mktsegment") === "RECTIFIED", 1L).otherwise(0L))
        .as("n_rectified"),
      sum(when(col("c_custkey") % 97 === 0 &&
        col("c_mktsegment") =!= "RECTIFIED", 1L).otherwise(0L))
        .as("n_missed"),
      sum(when(col("c_custkey") % 97 =!= 0,
        expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)")).otherwise(0L))
        .as("untouched_cents")).head()
    import s.implicits._
    Seq((nBefore, audit.getAs[Long]("n_after"),
      audit.getAs[Long]("n_rectified"), audit.getAs[Long]("n_missed"),
      audit.getAs[Long]("untouched_cents")))
      .toDF("n_before", "n_after", "n_rectified", "n_missed",
        "untouched_cents")
  }

  val purgeRectifySql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
      |  CAST(COUNT(*) AS BIGINT) AS n_after,
      |  CAST(SUM(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_rectified,
      |  CAST(0 AS BIGINT) AS n_missed,
      |  CAST(SUM(CASE WHEN c_custkey % 97 <> 0
      |    THEN CAST(ROUND(c_acctbal * 100) AS BIGINT) ELSE 0 END)
      |    AS BIGINT) AS untouched_cents
      |FROM customer""".stripMargin

  /** Data-subject access request (DSAR) export — the read half of
    * the reference's purge/compliance surface (`Main.java` purge
    * dispatch; GDPR Art. 15 precedes Art. 17): for every requesting
    * subject, gather their rows ACROSS tables and emit a per-table
    * export manifest (subjects present, row count, exact DECIMAL
    * cents checksum) that the downstream packager verifies against.
    * Subjects are the deterministic request list `custkey % 97 = 0`
    * — the same key population the legal-hold gate protects.
    *
    * Scale: the request list is metadata-sized and BROADCAST to
    * every fact table, so customer and orders are one scan each
    * with no shuffle; lineitem routes through the subject-filtered
    * orders (itself tiny after the broadcast semi join) broadcast
    * again — the 100 TB fact table is scanned once and never
    * shuffled. Checksums go through DECIMAL(18,2) sums (exact,
    * order-independent) before the cents cast. */
  def purgeSubjectExport(s: SparkSession, dir: String): DataFrame = {
    val subjects = Tables.customer(s, dir)
      .filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("subj"))
    def manifest(tbl: String, joined: DataFrame,
        amount: Column): DataFrame =
      joined.agg(
        countDistinct(col("subj")).as("n_subjects"),
        count(lit(1)).as("n_rows"),
        (sum(amount.cast(DecimalType(18, 2))) * 100)
          .cast(LongType).as("sum_cents"))
        .select(lit(tbl).as("tbl"), col("n_subjects"),
          col("n_rows"), col("sum_cents"))
    val cust = manifest("customer",
      Tables.customer(s, dir).join(broadcast(subjects),
        col("c_custkey") === col("subj")), col("c_acctbal"))
    val subjOrders = Tables.orders(s, dir).join(broadcast(subjects),
      col("o_custkey") === col("subj"))
    val ords = manifest("orders", subjOrders, col("o_totalprice"))
    val li = manifest("lineitem",
      Tables.lineitem(s, dir).join(
        broadcast(subjOrders.select(col("o_orderkey"), col("subj"))),
        col("l_orderkey") === col("o_orderkey")),
      col("l_extendedprice"))
    cust.unionByName(ords).unionByName(li).orderBy(col("tbl"))
  }

  val purgeSubjectExportSql: String =
    """WITH subj AS (
      |  SELECT c_custkey AS subj FROM customer WHERE c_custkey % 97 = 0),
      |so AS (
      |  SELECT o.*, s.subj FROM orders o JOIN subj s
      |  ON o.o_custkey = s.subj)
      |SELECT 'customer' AS tbl, COUNT(DISTINCT subj) AS n_subjects,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
      |    AS sum_cents
      |FROM customer c JOIN subj s ON c.c_custkey = s.subj
      |UNION ALL
      |SELECT 'lineitem', COUNT(DISTINCT subj), COUNT(*),
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
      |    AS BIGINT)
      |FROM lineitem l JOIN so ON l.l_orderkey = so.o_orderkey
      |UNION ALL
      |SELECT 'orders', COUNT(DISTINCT subj), COUNT(*),
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |FROM so
      |ORDER BY tbl""".stripMargin

  /** Parquet row-group layout introspection — the scan-pruning
    * audit: writes a key-sorted single file with a SMALL row-group
    * target (64 KiB), then reads the REAL footer metadata back
    * through the public parquet-hadoop API
    * (`ParquetFileReader.getFooter`) and proves the properties that
    * make min/max pruning work at 100 TB: multiple row groups
    * materialized, per-group `event_id` statistics present, ranges
    * strictly NON-OVERLAPPING (the sorted write's promise — this is
    * exactly what `maint_file_stats_prune` and the keyset-export
    * cursor rely on), and footer row counts / global min / max that
    * reconcile against the data, which is what the oracle checks.
    * Footer reads are metadata-sized by definition — the one
    * driver-side loop here touches block headers, never rows. */
  def convRowgroupStats(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val out = scratch(dir, "rowgroup_stats")
    Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"))
      .repartition(1).sortWithinPartitions(col("event_id"))
      .write.mode("overwrite")
      .option("parquet.block.size", 64 * 1024)
      .parquet(out)
    val part = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath),
        s.sparkContext.hadoopConfiguration))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val stats = blocks.map { b =>
        val c = b.getColumns.asScala
          .find(_.getPath.toDotString == "event_id").get.getStatistics
        (b.getRowCount,
          c.genericGetMin.asInstanceOf[java.lang.Long].longValue,
          c.genericGetMax.asInstanceOf[java.lang.Long].longValue)
      }
      val nonOverlap = stats.sortBy(_._2).sliding(2).forall {
        case Seq((_, _, aMax), (_, bMin, _)) => aMax < bMin
        case _ => true
      }
      import s.implicits._
      Seq((stats.map(_._1).sum, stats.map(_._2).min,
        stats.map(_._3).max, blocks.size >= 2, nonOverlap))
        .toDF("n_rows", "min_id", "max_id", "multi_group",
          "nonoverlapping")
    } finally reader.close()
  }

  val convRowgroupStatsSql: String =
    """SELECT COUNT(*) AS n_rows, MIN(event_id) AS min_id,
      |  MAX(event_id) AS max_id, true AS multi_group,
      |  true AS nonoverlapping
      |FROM events""".stripMargin

  /** Dictionary-encoding layout audit — the column-chunk-level
    * complement of [[convRowgroupStats]]'s row-group audit: writes
    * the documents projection with a deliberately small dictionary
    * page budget, then reads the REAL footer encoding stats to prove
    * the writer made the right per-column call — the low-cardinality
    * `lang` column stays fully dictionary-encoded (RLE codes, the
    * 100 TB scan-cost difference for categorical columns) while the
    * high-entropy `text` column triggers the PLAIN fallback instead
    * of building a useless corpus-sized dictionary. Value counts are
    * reconciled against the table so the footer read is pinned to
    * the data, not just to writer flags.
    *
    * Footer metadata is O(columns × row-groups) — metadata-sized by
    * definition; the audit never scans data pages. */
  def convDictEncoding(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val out = scratch(dir, "dict_encoding")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"))
      .repartition(1)
      .write.mode("overwrite")
      .option("parquet.dictionary.page.size", 4 * 1024)
      .parquet(out)
    val part = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath),
        s.sparkContext.hadoopConfiguration))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val per = Seq("lang", "text").map { name =>
        val chunks = blocks.map(_.getColumns.asScala
          .find(_.getPath.toDotString == name).get)
        val stats = chunks.map(_.getEncodingStats)
        val allDict = stats.forall(e => e != null &&
          e.hasDictionaryEncodedPages && !e.hasNonDictionaryEncodedPages)
        val anyPlain = stats.exists(e => e == null ||
          e.hasNonDictionaryEncodedPages)
        (name, chunks.map(_.getValueCount).sum, allDict, anyPlain)
      }
      import s.implicits._
      per.toDF("col_name", "n_values", "all_dict", "any_plain")
        .orderBy(col("col_name"))
    } finally reader.close()
  }

  val convDictEncodingSql: String =
    """SELECT 'lang' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_values,
      |  true AS all_dict, false AS any_plain
      |FROM documents
      |UNION ALL
      |SELECT 'text', CAST(COUNT(*) AS BIGINT), false, true
      |FROM documents
      |ORDER BY col_name""".stripMargin

  /** Footer key-value metadata round-trip — column-level LINEAGE
    * stamping: field metadata attached at write time must land in
    * the parquet footer's key-value store (under Spark's
    * row-metadata key) AND be restored onto the schema by a plain
    * read-back, so downstream consumers inherit provenance without a
    * side-channel catalog. Verified BOTH ways: a raw
    * `ParquetFileReader` footer read (no Spark reader involved) and
    * the re-read schema's field metadata; row counts reconcile the
    * footer against the data. */
  def convFooterKv(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "footer_kv")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("lineage", "ingest-v2").build()
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang").as("lang", meta))
      .repartition(1)
      .write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath),
        s.sparkContext.hadoopConfiguration))
    val footerJson = try {
      reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
    } finally reader.close()
    val inFooter = footerJson != null &&
      footerJson.contains("lineage") && footerJson.contains("ingest-v2")
    val back = s.read.parquet(out)
    val f = back.schema("lang")
    val restored = f.metadata.contains("lineage") &&
      f.metadata.getString("lineage") == "ingest-v2"
    import s.implicits._
    Seq((inFooter, restored, back.count()))
      .toDF("footer_kv", "metadata_restored", "n_rows")
  }

  val convFooterKvSql: String =
    """SELECT true AS footer_kv, true AS metadata_restored,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM documents""".stripMargin

  /** CSV schema-inference contract: a typed table round-tripped
    * through headered CSV WITHOUT a declared schema must come back
    * with the inferred types a user relies on — int-range integers
    * as int, decimals as double, ISO timestamps as timestamp, text
    * as string — and exact content equality on a checksum (the
    * inference is useless if values were mangled to get there). The
    * oracle states the expected dtypes as constants plus the same
    * checksum from the original table. */
  def convCsvInfer(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "csv_infer")
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
      .repartition(1)
      .write.mode("overwrite").option("header", "true").csv(out)
    val back = s.read.option("header", "true")
      .option("inferSchema", "true").csv(out)
    val types = back.schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString))
    val sums = back.agg(
      sum(col("o_orderkey").cast(LongType)).as("key_sum"),
      sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .as("cents_sum")).head()
    import s.implicits._
    types.map { case (n, t) =>
      (n, t, sums.getAs[Long]("key_sum"), sums.getAs[Long]("cents_sum"))
    }.toDF("col_name", "dtype", "key_sum", "cents_sum")
      .orderBy(col("col_name"))
  }

  val convCsvInferSql: String =
    """WITH sums AS (
      |  SELECT CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
      |      AS BIGINT) AS cents_sum
      |  FROM orders)
      |SELECT c.col_name, c.dtype, s.key_sum, s.cents_sum
      |FROM (VALUES ('o_orderdate', 'timestamp'),
      |             ('o_orderkey', 'int'),
      |             ('o_orderstatus', 'string'),
      |             ('o_totalprice', 'double'))
      |  AS c(col_name, dtype), sums s
      |ORDER BY c.col_name""".stripMargin

  /** Erasure PROOF for the purge engine (the GDPR "prove you deleted
    * it" follow-up to the audit log): a two-level Merkle-style
    * digest over the key space — keys bucket by `k mod 64`, each
    * bucket folds to an order-invariant digest (count + the
    * tableChecksum split-multiply key mix, so layout never matters),
    * and the ROOT is the ordered `acc·31 + d mod 1e9+7` fold over
    * the 64 bucket digests. Deleting any key strictly drops its
    * bucket's count, so the bucket digest — and therefore the root —
    * MUST change; the gate emits pre/post roots, the deleted-key
    * bucket set size, and the changed-bucket count, which must
    * match exactly (every touched bucket changed, no untouched
    * bucket did).
    *
    * Scale: two map-combinable bucket aggregates + one 64-row fold;
    * the proof artifact is O(buckets), shippable to an auditor
    * without any row data. */
  def purgeMerkleProof(s: SparkSession, dir: String): DataFrame = {
    val mix = "((k % 1048576) * 2654435761 + (k div 1048576) * 40503)" +
      " % 4294967296"
    val keys = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"), col("o_custkey"))
      .withColumn("doomed", col("o_custkey") % 97 === 0)
    def buckets(df: DataFrame): DataFrame =
      df.groupBy((col("k") % 64).as("b"))
        .agg(count(lit(1)).as("n"), sum(expr(mix)).as("msum"))
        .withColumn("d", expr("(msum + n * 40503) % 4294967296"))
    def root(bdf: DataFrame): DataFrame =
      bdf.agg(
        expr("aggregate(array_sort(collect_list(struct(b, d)))," +
          " CAST(0 AS BIGINT)," +
          " (acc, x) -> (acc * 31 + x.d) % 1000000007)").as("root"),
        sum(col("n")).as("n_keys"))
    val pre = buckets(keys)
    val post = buckets(keys.filter(!col("doomed")))
    val changed = pre.toDF("b", "n1", "m1", "d1")
      .join(post.toDF("b", "n2", "m2", "d2"), Seq("b"), "left")
      .agg(sum(when(col("d2").isNull ||
        col("d1") =!= col("d2"), 1L).otherwise(0L))
        .as("buckets_changed"))
    val touched = keys.filter(col("doomed"))
      .select((col("k") % 64).as("b")).distinct()
      .agg(count(lit(1)).as("buckets_touched"))
    val deleted = keys.filter(col("doomed"))
      .agg(count(lit(1)).as("n_deleted"))
    root(pre).toDF("root_pre", "n_pre")
      .crossJoin(root(post).toDF("root_post", "n_post"))
      .crossJoin(deleted).crossJoin(touched).crossJoin(changed)
      .select(col("n_pre"), col("n_post"), col("n_deleted"),
        col("buckets_touched"), col("buckets_changed"),
        col("root_pre"), col("root_post"),
        (col("root_pre") =!= col("root_post")).as("roots_differ"),
        (col("buckets_touched") === col("buckets_changed"))
          .as("proof_exact"))
  }

  val purgeMerkleProofSql: String = {
    val mixSql = "((k % 1048576) * 2654435761 + (k // 1048576)" +
      " * 40503) % 4294967296"
    s"""WITH keys AS (
      |  SELECT o_orderkey AS k,
      |    o_custkey % 97 = 0 AS doomed
      |  FROM orders),
      |pre AS (
      |  SELECT k % 64 AS b, COUNT(*) AS n,
      |    (CAST(SUM($mixSql) AS BIGINT) + COUNT(*) * 40503)
      |      % 4294967296 AS d
      |  FROM keys GROUP BY k % 64),
      |post AS (
      |  SELECT k % 64 AS b, COUNT(*) AS n,
      |    (CAST(SUM($mixSql) AS BIGINT) + COUNT(*) * 40503)
      |      % 4294967296 AS d
      |  FROM keys WHERE NOT doomed GROUP BY k % 64),
      |rpre AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list(d ORDER BY b)),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS root_pre,
      |    CAST(SUM(n) AS BIGINT) AS n_pre
      |  FROM pre),
      |rpost AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list(d ORDER BY b)),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS root_post,
      |    CAST(SUM(n) AS BIGINT) AS n_post
      |  FROM post),
      |del AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_deleted,
      |    CAST(COUNT(DISTINCT k % 64) AS BIGINT) AS buckets_touched
      |  FROM keys WHERE doomed),
      |chg AS (
      |  SELECT CAST(SUM(CASE WHEN post.d IS NULL
      |      OR pre.d <> post.d THEN 1 ELSE 0 END) AS BIGINT)
      |      AS buckets_changed
      |  FROM pre LEFT JOIN post ON post.b = pre.b)
      |SELECT n_pre, n_post, n_deleted, buckets_touched,
      |  buckets_changed, root_pre, root_post,
      |  root_pre <> root_post AS roots_differ,
      |  buckets_touched = buckets_changed AS proof_exact
      |FROM rpre, rpost, del, chg""".stripMargin
  }

  /** JSONL DROPMALFORMED contract — the third corner of the JSON
    * recovery-mode triangle (quarantine = row-level PERMISSIVE
    * triage, [[convJsonlQuarantine]]; FAILFAST = abort): records
    * with BROKEN SYNTAX (truncated JSON, not just a bad field type)
    * are silently dropped and every well-formed record survives
    * intact. The gate writes a scratch JSONL where every 10th
    * record is truncated mid-object, reads it back under
    * `mode=DROPMALFORMED`, and aggregates — the oracle states the
    * surviving set from the construction rule, so an over- or
    * under-drop cannot hash green.
    *
    * Scale: text write + schema-bound JSON scan, both linear; the
    * recovery mode is a per-record parser flag, no extra pass. */
  def convJsonlDropMalformed(s: SparkSession, dir: String): DataFrame = {
    val txtDir = scratch(dir, "conv_jsonl_dropmalformed")
    graft.Scaffold.setup {
      Tables.documents(s, dir)
        .select(when(col("doc_id") % 10 === 0,
            concat(lit("{\"doc_id\": "), col("doc_id")))
          .otherwise(concat(lit("{\"doc_id\": "), col("doc_id"),
            lit(", \"n_chars\": "), col("n_chars"), lit("}")))
          .as("value"))
        .write.mode("overwrite").text(txtDir)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_chars", LongType)))
    s.read.schema(schema).option("mode", "DROPMALFORMED").json(txtDir)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars")).as("sum_chars"))
  }

  val convJsonlDropMalformedSql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id % 10 <> 0""".stripMargin

  /** CSV comment-line contract: lines opening with the configured
    * comment char are skipped by the READER (not quarantined as bad
    * rows — they are not records at all). The gate interleaves a
    * deterministic `# audit note` line per fifth order into a
    * scratch CSV, reads it back under `option("comment", "#")`, and
    * aggregates; the oracle states the record set from the
    * construction, so an over-skip (real rows starting with #
    * inside quotes are NOT comments) or under-skip cannot hash
    * green.
    *
    * Scale: text write + CSV scan, both linear; comment handling is
    * a per-line parser flag. */
  def convCsvComments(s: SparkSession, dir: String): DataFrame = {
    val txtDir = scratch(dir, "conv_csv_comments")
    graft.Scaffold.setup {
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .select(when(col("o_orderkey") % 5 === 0,
            concat(lit("# audit note for "), col("o_orderkey"),
              lit("\n"), col("o_orderkey"), lit(","),
              col("o_custkey")))
          .otherwise(concat(col("o_orderkey"), lit(","),
            col("o_custkey"))).as("value"))
        .write.mode("overwrite").text(txtDir)
    }
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("ck", LongType)))
    s.read.schema(schema).option("comment", "#").csv(txtDir)
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_keys"),
        sum(col("ck")).as("sum_cust"))
  }

  val convCsvCommentsSql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
      |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
      |FROM orders""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "conv_csv_comments" -> (convCsvComments _),
    "conv_jsonl_dropmalformed" -> (convJsonlDropMalformed _),
    "purge_merkle_proof"    -> (purgeMerkleProof _),
    "conv_rowgroup_stats"   -> (convRowgroupStats _),
    "conv_dict_encoding"    -> (convDictEncoding _),
    "conv_footer_kv"        -> (convFooterKv _),
    "conv_csv_infer"        -> (convCsvInfer _),
    "purge_rectify"         -> (purgeRectify _),
    "conv_dynamic_overwrite" -> (convDynamicOverwrite _),
    "conv_provenance"       -> (convProvenance _),
    "report_catalog"        -> (reportCatalog _),
    "purge_subject_export"  -> (purgeSubjectExport _),
    "purge_legal_hold"      -> (purgeLegalHold _),
    "conv_csv_multichar"    -> (convCsvMultichar _),
    "purge_crypto_shred"    -> (purgeCryptoShred _),
    "conv_ledger"           -> (convLedger _),
    "conv_csv_roundtrip"    -> (convCsvRoundtrip _),
    "conv_csv_gzip_roundtrip" -> (convCsvGzipRoundtrip _),
    "conv_jsonl_roundtrip"  -> (convJsonlRoundtrip _),
    "conv_jsonl_quarantine" -> (convJsonlQuarantine _),
    "conv_orc_roundtrip"    -> (convOrcRoundtrip _),
    "conv_avro_roundtrip"   -> (convAvroRoundtrip _),
    "conv_csv_via_avro"     -> (convCsvViaAvro _),
    "conv_quarantine"       -> (convQuarantine _),
    "purge_criteria_delete" -> (purgeCriteriaDelete _),
    "purge_cascade" -> (purgeCascade _),
    "purge_soft_delete" -> (purgeSoftDelete _),
    "purge_audit_chain" -> (purgeAuditChain _),
    "conv_csv_latin1" -> (convCsvLatin1 _),
    "conv_jsonl_nested" -> (convJsonlNested _),
    "purge_time_travel"     -> (purgeTimeTravel _),
    "conv_fixedwidth_roundtrip" -> (convFixedWidthRoundtrip _),
    "conv_xml_roundtrip"    -> (convXmlRoundtrip _),
    "conv_weblog_parse"     -> (convWeblogParse _),
    "conv_csv_tortures"     -> (convCsvTortures _),
    "conv_parquet_zstd"     -> (convParquetZstd _),
    "conv_binaryfiles"      -> (convBinaryFiles _),
    "conv_csv_lz4_roundtrip" -> (convCsvLz4Roundtrip _),
    "parquet_bloom_lookup"  -> (parquetBloomLookup _),
    "conv_schema_evolution" -> (convSchemaEvolution _),
    "purge_sql_delete"      -> (purgeSqlDelete _),
    "purge_guard_abort"     -> (purgeGuardAbort _),
    "purge_dryrun"          -> (purgeDryRun _),
    "purge_truncate"        -> (purgeTruncate _),
    "purge_partition_drop"  -> (purgePartitionDrop _),
    "purge_missing_table"   -> (purgeMissingTable _))

  def oracle: Map[String, String] = Map(
    "conv_csv_comments" -> convCsvCommentsSql,
    "conv_jsonl_dropmalformed" -> convJsonlDropMalformedSql,
    "purge_merkle_proof"    -> purgeMerkleProofSql,
    "conv_rowgroup_stats"   -> convRowgroupStatsSql,
    "conv_dict_encoding"    -> convDictEncodingSql,
    "conv_footer_kv"        -> convFooterKvSql,
    "conv_csv_infer"        -> convCsvInferSql,
    "purge_rectify"         -> purgeRectifySql,
    "conv_dynamic_overwrite" -> convDynamicOverwriteSql,
    "conv_provenance"       -> convProvenanceSql,
    "report_catalog"        -> reportCatalogSql,
    "purge_subject_export"  -> purgeSubjectExportSql,
    "purge_legal_hold"      -> purgeLegalHoldSql,
    "conv_csv_multichar"    -> convCsvMulticharSql,
    "purge_crypto_shred"    -> purgeCryptoShredSql,
    "conv_ledger"           -> convLedgerSql,
    "conv_csv_roundtrip"    -> convCsvRoundtripSql,
    "conv_csv_gzip_roundtrip" -> convCsvGzipRoundtripSql,
    "conv_jsonl_roundtrip"  -> convJsonlRoundtripSql,
    "conv_jsonl_quarantine" -> convJsonlQuarantineSql,
    "conv_orc_roundtrip"    -> convOrcRoundtripSql,
    "conv_avro_roundtrip"   -> convAvroRoundtripSql,
    "conv_csv_via_avro"     -> convCsvViaAvroSql,
    "conv_quarantine"       -> convQuarantineSql,
    "purge_criteria_delete" -> purgeCriteriaDeleteSql,
    "purge_cascade" -> purgeCascadeSql,
    "purge_soft_delete" -> purgeSoftDeleteSql,
    "purge_audit_chain" -> purgeAuditChainSql,
    "conv_csv_latin1" -> convCsvLatin1Sql,
    "conv_jsonl_nested" -> convJsonlNestedSql,
    "purge_time_travel"     -> purgeTimeTravelSql,
    "conv_fixedwidth_roundtrip" -> convFixedWidthRoundtripSql,
    "conv_xml_roundtrip"    -> convXmlRoundtripSql,
    "conv_weblog_parse"     -> convWeblogParseSql,
    "conv_csv_tortures"     -> convCsvTorturesSql,
    "conv_parquet_zstd"     -> convParquetZstdSql,
    "conv_binaryfiles"      -> convBinaryFilesSql,
    "conv_csv_lz4_roundtrip" -> convCsvLz4RoundtripSql,
    "parquet_bloom_lookup"  -> parquetBloomLookupSql,
    "conv_schema_evolution" -> convSchemaEvolutionSql,
    "purge_sql_delete"      -> purgeSqlDeleteSql,
    "purge_guard_abort"     -> purgeGuardAbortSql,
    "purge_dryrun"          -> purgeDryRunSql,
    "purge_truncate"        -> purgeTruncateSql,
    "purge_partition_drop"  -> purgePartitionDropSql,
    "purge_missing_table"   -> purgeMissingTableSql)
}
