package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema-declared JSONL (newline-delimited JSON) ingestion — the
  * de-facto interchange format of LLM data pipelines, added alongside
  * the reference's CSV source (SURVEY §2.1) with the SAME cast
  * contract so the two paths are interchangeable:
  *
  *   - fields bound by NAME (JSON is self-describing; positional
  *     binding is a CSV-ism), missing/null fields → NULL;
  *   - every scalar is first read as a string, then cast through
  *     [[CsvIngest.castSql]] — empty→NULL normalization, the
  *     multi-format timestamp chain, lenient HALF_UP decimals, and
  *     `strict` ANSI mode all behave identically to the CSV path;
  *   - PERMISSIVE mode: a malformed line yields a NULL row rather
  *     than failing the scan (quarantine-grade isolation is the CSV
  *     path's `readChecked`; JSONL callers filter nulls the same way).
  *
  * One scan + one codegen'd projection, no UDFs: Catalyst prunes
  * unreferenced JSON fields at the parser (Spark's JSON reader is
  * schema-driven), so a 2-column projection never materializes a
  * 28-field object.
  */
object JsonlIngest {

  def read(spark: SparkSession, path: String, schema: StructType,
      strict: Boolean = false): DataFrame =
    readAll(spark, Seq(path), schema, strict)

  def readAll(spark: SparkSession, paths: Seq[String],
      schema: StructType, strict: Boolean = false): DataFrame = {
    // All-strings shadow schema: the JSON parser stringifies scalars,
    // the single projection below applies the declared types.
    val rawSchema = StructType(schema.fields.map(f =>
      StructField(f.name, StringType, nullable = true)))
    val raw = spark.read
      .option("mode", "PERMISSIVE")
      .schema(rawSchema)
      .json(paths: _*)
    val exprs = schema.fields.map { f =>
      s"${CsvIngest.castSql(s"`${f.name}`", f.dataType, strict)} AS `${f.name}`"
    }
    raw.selectExpr(exprs.toIndexedSeq: _*)
  }

  /** Row-classified JSONL read — the quarantine contract of
    * [[CsvIngest.readChecked]] on the JSONL source, on the same
    * classifier: same output layout (typed columns ++ `_raw_<name>`
    * cells, set on bad rows only ++ source file ++ reason), so
    * [[CsvIngest.goodRows]]/[[CsvIngest.badRows]] split it
    * identically. A row is bad when the LINE is unparseable JSON
    * (PERMISSIVE corrupt-record marker — there is no CSV-style
    * short-row demotion: a missing JSON field is legitimately null)
    * or a present, non-empty cell of a strict type fails its cast. */
  def readChecked(spark: SparkSession, paths: Seq[String],
      schema: StructType): DataFrame = {
    val corrupt = CsvIngest.CorruptCol
    val rawSchema = StructType(schema.fields.map(f =>
      StructField(f.name, StringType, nullable = true)) :+
      StructField(corrupt, StringType, nullable = true))
    val raw = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .schema(rawSchema)
      .json(paths: _*)
    CsvIngest.classify(raw, schema, schema.fieldNames.toSeq.map(n => s"`$n`"),
      org.apache.spark.sql.functions.col(corrupt).isNotNull)
  }
}
