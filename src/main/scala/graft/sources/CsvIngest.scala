package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-declared CSV ingestion with the reference's cast semantics
  * (SURVEY.md §2.2, P1–P7; `CsvToParquetConverter.java:144-216`):
  *
  *   - header row skipped; columns bound **positionally** to the
  *     declared schema, not by header name
  *     (`CsvToParquetConverter.java:155-159`);
  *   - empty / whitespace-only cell → NULL before casting
  *     (`CsvToParquetConverter.java:160-163`); a short row's missing
  *     trailing cells behave the same (read as null);
  *   - INT32/INT64 → integer parse; DATE → ISO `yyyy-MM-dd`;
  *   - TIMESTAMP_MICROS → multi-format parse: fractional seconds of
  *     9, 6 or 3 digits tried in order (`CsvToParquetConverter.java:
  *     42-46,129-142`), **plus** a fraction-less `yyyy-MM-dd HH:mm:ss`
  *     — the documented superset (SURVEY §1: the reference's own
  *     sample CSVs are fraction-less and its formatters reject them);
  *     values are naive local datetimes kept in UTC (TimestampNTZ);
  *   - DECIMAL(p,s) → lenient parse, HALF_UP rescale, invalid → NULL
  *     (`CsvToParquetConverter.java:187-195`).
  *
  * Lenient casts are expressed with `try_cast` / `try_to_timestamp`,
  * so the null-on-invalid contract holds under Spark 4's default ANSI
  * mode as well as with ANSI off. Divergence (documented): the
  * reference *aborts the whole file* on an unparseable
  * int/long/date/timestamp; a distributed engine quarantines the bad
  * value as NULL instead. Use `strict = true` for plain ANSI `CAST`,
  * which fails the task like the reference fails the file.
  *
  * The whole ingest is a single codegen'd projection over the CSV
  * scan — no UDFs — so Catalyst keeps pushdown/pruning and the read
  * scales linearly with input splits.
  */
object CsvIngest {

  /** Timestamp input patterns, tried in order (reference order, plus
    * the fraction-less superset form last). */
  val TimestampPatterns: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss.SSSSSSSSS",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd HH:mm:ss")

  /** Raw string column `c` with empty and whitespace-only cells as
    * NULL (P7): the input of every cast. */
  private def blankToNull(c: String): String =
    s"(CASE WHEN TRIM($c) = '' THEN NULL ELSE $c END)"

  /** SQL expression casting raw string column `c` to `dt` (P2–P7). */
  def castSql(c: String, dt: DataType, strict: Boolean = false): String = {
    val cell = blankToNull(c)
    def cast(to: String) =
      if (strict) s"CAST($cell AS $to)" else s"TRY_CAST($cell AS $to)"
    dt match {
      case IntegerType => cast("INT")
      case LongType    => cast("BIGINT")
      case DateType    => cast("DATE") // ISO yyyy-MM-dd
      case TimestampNTZType | TimestampType =>
        val tries = TimestampPatterns
          .map(p => s"TRY_TO_TIMESTAMP($cell, '$p')")
          .mkString("COALESCE(", ", ", s", CAST(NULL AS TIMESTAMP))")
        val target = if (dt == TimestampNTZType) "TIMESTAMP_NTZ" else "TIMESTAMP"
        s"CAST($tries AS $target)"
      case d: DecimalType =>
        // Lenient even in strict mode — the reference's decimal path
        // warns + nulls rather than aborting (P6).
        s"TRY_CAST($cell AS DECIMAL(${d.precision},${d.scale}))"
      case StringType => cell
      case BinaryType => s"UNBASE64($cell)"
      case other => cast(other.sql)
    }
  }

  /** Read a CSV directory/glob bound positionally to `schema`.
    *
    * The file is read as all-strings (no inference, no scan-time ANSI
    * failures), then cast column-by-column in one projection.
    */
  def read(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, strict: Boolean = false,
      delimiter: String = ","): DataFrame =
    readAll(spark, Seq(path), schema, header, strict, delimiter)

  def readAll(spark: SparkSession, paths: Seq[String], schema: StructType,
      header: Boolean = true, strict: Boolean = false,
      delimiter: String = ","): DataFrame = {
    val rawSchema = StructType(schema.indices.map(i =>
      StructField(s"_c$i", StringType, nullable = true)))
    val raw = spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter)
      // opencsv-style RFC-4180 quoting is the Spark default ("\"")
      .option("enforceSchema", "true") // positional binding, header ignored
      .option("mode", "PERMISSIVE")
      .schema(rawSchema)
      .csv(paths: _*)
    val exprs = schema.fields.zipWithIndex.map { case (f, i) =>
      s"${castSql(s"_c$i", f.dataType, strict)} AS `${f.name}`"
    }
    raw.selectExpr(exprs.toIndexedSeq: _*)
  }

  // ------------------------------------------------------------------ //
  // Quarantine path (reference file-abort semantics, re-expressed):
  // `CsvToParquetConverter.java:204-213` aborts the WHOLE file on one
  // unparseable int/long/date/timestamp. A distributed engine does
  // better than both silent NULLing and whole-file loss: every row is
  // classified in the same scan and codegen'd stage, good rows flow
  // to the sink, bad rows land in a quarantine table with their raw
  // cells, source file, and a reason — loud isolation, no data loss.

  /** Metadata columns added by [[readChecked]]. */
  val SrcFileCol = "_src_file"
  val ReasonCol = "_bad_reason"
  val CorruptCol = "_corrupt_record"
  def rawName(field: String): String = s"_raw_$field"
  // [[classify]]'s working columns, dropped from its output.
  private val MalformedCol = "_malformed"
  private val FailedCol = "_failed_casts"

  /** Types whose unparseable values abort a file in the reference
    * (P2–P5). DECIMAL stays lenient (warn + NULL) there too (P6). */
  private def strictCastType(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  /** Read CSVs bound positionally to `schema`, classifying every row.
    *
    * Output = typed columns (per `schema`) ++ raw string cells
    * (`_raw_<name>`) ++ [[SrcFileCol]] ++ [[ReasonCol]]. A row is bad
    * when (a) the line itself is malformed — extra tokens or broken
    * RFC-4180 quoting, captured via PERMISSIVE's corrupt-record column
    * — or (b) a non-empty cell of a strict type fails its cast.
    * [[ReasonCol]] and the raw cells are NULL on good rows: raw cells
    * are for the quarantine ([[badRows]]).
    *
    * Short rows are NOT malformed: the reference reads missing
    * trailing cells as NULL (`CsvToParquetConverter.java:159`, P7) and
    * [[readAll]] preserves that, so the corrupt-record marker (which
    * Spark also sets for under-length rows) is demoted back to good
    * when the raw line has fewer delimiters than the schema needs. A
    * short row whose QUOTED cells embed the delimiter can over-count
    * and land in quarantine — the conservative direction for an
    * isolation path (loudly held back, never silently wrong).
    *
    * One scan, no UDFs, each cell cast once ([[classify]]). The scan
    * parses every column whatever the consumer selects (the per-read
    * CSV option `columnPruning` = false): a parser that skips columns
    * does not see an over-long line's extra tokens, so a pruned
    * `count` of the bad rows would disagree with a `collect` of them.
    */
  def readChecked(spark: SparkSession, paths: Seq[String],
      schema: StructType, header: Boolean = true,
      delimiter: String = ",",
      options: Map[String, String] = Map.empty): DataFrame = {
    val rawSchema = StructType(schema.indices.map(i =>
      StructField(s"_c$i", StringType, nullable = true)) :+
      StructField(CorruptCol, StringType, nullable = true))
    val raw = spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("enforceSchema", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .option("columnPruning", "false")
      .options(options)
      .schema(rawSchema)
      .csv(paths: _*)
    // Spark sets the corrupt marker for under-length rows too; a raw
    // line with fewer tokens than the schema is a SHORT row (good, P7),
    // not a malformed one. Token count via regex-quoted delimiter.
    val corrupt = col(CorruptCol)
    val shortRow =
      size(split(corrupt, java.util.regex.Pattern.quote(delimiter))) <
        lit(schema.length)
    classify(raw, schema, schema.indices.map(i => s"_c$i"),
      corrupt.isNotNull && !shortRow)
  }

  /** The row classifier behind both `readChecked`s: `cells(i)` is the
    * SQL reference to field i's string cell in `raw`; `malformed`
    * flags a line that did not parse. Three stacked projections cast
    * each cell once per row and build the failed-cast list once:
    * (1) [[readAll]]'s casts, the raw cells, each strict cast's input
    * (blank → NULL), the source file, the malformed flag; (2) the
    * failed strict casts (a non-NULL input whose typed value IS NULL)
    * joined by `concat_ws`; (3) the reason, raw cells on bad rows only.
    * `CollapseProject` keeps them apart: it does not inline an
    * expensive alias referenced twice. Merged, each strict cell would
    * be parsed three times (CSE does not reach into conditional
    * branches). The cast input is the cast's own subexpression, so
    * codegen evaluates it once in a method of its own; that keeps the
    * 28-column reference schema's per-row method under HotSpot's
    * 8 000-byte JIT limit (BASELINE.md). */
  private[sources] def classify(raw: DataFrame, schema: StructType,
      cells: Seq[String], malformed: Column): DataFrame = {
    val names = schema.fieldNames.toSeq
    def at(name: String) = col(s"`$name`")
    def input(name: String) = s"_input_$name"
    val strict = schema.fields.toSeq.zip(cells)
      .filter { case (f, _) => strictCastType(f.dataType) }
    val typed = raw.select(schema.fields.toSeq.zip(cells).map {
      case (f, c) => expr(castSql(c, f.dataType)).as(f.name)
    } ++ names.zip(cells).map { case (n, c) => expr(c).as(rawName(n)) } ++
      strict.map { case (f, c) => expr(blankToNull(c)).as(input(f.name)) } ++
      Seq(input_file_name().as(SrcFileCol), malformed.as(MalformedCol)): _*)
    val failed = strict.map { case (f, _) =>
      when(at(f.name).isNull && at(input(f.name)).isNotNull, lit(f.name))
    }
    val listed =
      typed.select(col("*"), concat_ws(",", failed: _*).as(FailedCol))
    val castFailed = col(FailedCol) =!= ""
    val bad = col(MalformedCol) || castFailed
    listed.select(names.map(at) ++
      names.map(n => when(bad, at(rawName(n))).as(rawName(n))) ++ Seq(
        col(SrcFileCol),
        when(col(MalformedCol), lit("malformed_line"))
          .when(castFailed, concat(lit("bad_cast:"), col(FailedCol)))
          .as(ReasonCol)): _*)
  }

  /** Clean rows of a [[readChecked]] frame, schema columns only. */
  def goodRows(checked: DataFrame, schema: StructType): DataFrame =
    checked.filter(col(ReasonCol).isNull)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)

  /** Quarantined rows: source file, reason, original raw cells. */
  def badRows(checked: DataFrame, schema: StructType): DataFrame =
    checked.filter(col(ReasonCol).isNotNull)
      .select((Seq(SrcFileCol, ReasonCol) ++
        schema.fieldNames.map(rawName)).map(col): _*)
}
