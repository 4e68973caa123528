package graft

import java.math.RoundingMode
import java.nio.file.{Files, Paths}
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

import scala.util.Try

import org.apache.spark.sql.functions.{col, count, lit}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.schema.SchemaLoader
import graft.sources.CsvIngest

/** `CsvIngest.readChecked` on generated RFC-4180 files, against a
  * small independent parser of the P1–P7 cast rules: quoted cells
  * (quoted delimiters among them), empty and whitespace-only cells,
  * bad ints, longs, dates and timestamps, all four timestamp fraction
  * widths, lenient decimals, short and over-long rows.
  *
  * Per generated case (fixed seeds, so a failure names its case):
  *   - the good/bad partition, the reasons and the per-file counts
  *     agree under a full `collect`, a `count` and a grouped
  *     aggregate, with the session's CSV column pruning on;
  *   - the typed good rows equal the independent parser's values;
  *   - `_raw_*` holds the original cells on bad rows and is NULL on
  *     good rows. */
class CsvClassifyPropertySpec extends SparkSpec {

  private val schema = SchemaLoader.fromJson(
    """{"fields": [
      |  {"name": "id", "type": "INT32", "repetition": "REQUIRED"},
      |  {"name": "name", "type": "BINARY", "logicalType": "STRING"},
      |  {"name": "age", "type": "INT32"},
      |  {"name": "big", "type": "INT64"},
      |  {"name": "born", "type": "INT32", "logicalType": "DATE"},
      |  {"name": "seen", "type": "INT64", "logicalType": "TIMESTAMP_MICROS"},
      |  {"name": "amt", "type": "BINARY", "logicalType": "DECIMAL",
      |   "precision": 10, "scale": 2}
      |]}""".stripMargin)
  private val width = schema.length
  private val strict = Set("age", "big", "born", "seen")

  /** One CSV cell: its text, and whether the file quotes it. */
  private case class Cell(text: String, quoted: Boolean) {
    def encoded: String = if (quoted) "\"" + text + "\"" else text
  }

  // ---- generators ------------------------------------------------ //

  private def cell(text: Gen[String]): Gen[Cell] = for {
    t <- text
    q <- Gen.frequency(9 -> false, 1 -> true)
  } yield Cell(t, q || t.contains(','))

  private val blank = Gen.oneOf("", " ", "   ")
  private def typed(good: Gen[String], bad: String*): Gen[Cell] =
    cell(Gen.frequency(12 -> good, 2 -> blank, 1 -> Gen.oneOf(bad)))

  private val timestamp = for {
    day <- Gen.choose(0L, 47000L)
    second <- Gen.choose(0, 86399)
    width <- Gen.oneOf(0, 3, 6, 9)
    fraction <- Gen.listOfN(width, Gen.numChar).map(_.mkString)
  } yield LocalDate.ofEpochDay(day).atStartOfDay.plusSeconds(second)
    .format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")) +
    (if (width == 0) "" else "." + fraction)

  private val columns: Seq[Gen[Cell]] = Seq(
    // No embedded '"': the reader does not take RFC-4180's doubled
    // quote for a literal one (its escape character is '\\').
    cell(Gen.frequency(6 -> Gen.listOf(Gen.oneOf('a', 'Z', ' ', ',', '1'))
      .map(_.take(8).mkString), 1 -> blank)),
    typed(Gen.choose(Int.MinValue, Int.MaxValue).map(_.toString),
      "NaN", "12x", "2147483648", "1 2"),
    typed(Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString),
      "9223372036854775808", "abc", "0x10"),
    typed(Gen.choose(0L, 47000L).map(d => LocalDate.ofEpochDay(d).toString),
      "bogus-date", "2020-02-30", "2021-13-01", "x2020-01-01"),
    typed(timestamp, "not a time", "2023-13-01 00:00:00", "25:99 pm",
      "2023-01-01T12:00:00"),
    cell(Gen.frequency(
      8 -> (for {
        unscaled <- Gen.choose(-9999999999L, 9999999999L)
        scale <- Gen.choose(0, 4)
      } yield java.math.BigDecimal.valueOf(unscaled, scale).toPlainString),
      1 -> blank, 1 -> Gen.const("not_a_number"))))

  /** A data line without its id: full, short or over-long. */
  private val line: Gen[Seq[Cell]] = for {
    cells <- Gen.sequence[Seq[Cell], Cell](columns)
    shape <- Gen.frequency(8 -> 0, 1 -> 1, 1 -> 2)
    cut <- Gen.choose(0, width - 2)
    extra <- Gen.choose(1, 2).flatMap(Gen.listOfN(_, columns.head))
  } yield shape match {
    case 0 => cells
    case 1 => cells.take(cut)
    case _ => cells ++ extra
  }

  private val files: Gen[Seq[Seq[Seq[Cell]]]] =
    Gen.choose(1, 3).flatMap(Gen.listOfN(_,
      Gen.choose(1, 25).flatMap(Gen.listOfN(_, line))))

  // ---- the independent parser ------------------------------------ //

  private val Fraction =
    """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.(\d{3}|\d{6}|\d{9}))?""".r

  /** The typed value of a cell (P2–P7); None when a non-blank cell
    * does not parse. Blank cells are Some(null). */
  private def parse(name: String, text: String): Option[Any] =
    if (text == null || text.trim.isEmpty) Some(null)
    else name match {
      case "id" | "age" => text.toIntOption
      case "big" => text.toLongOption
      case "born" => Try(LocalDate.parse(text)).toOption
      case "seen" => Some(text).filter(Fraction.matches)
        .flatMap(t => Try(LocalDateTime.parse(t.replace(' ', 'T'))).toOption)
        .map(t => t.withNano(t.getNano / 1000 * 1000))
      case "amt" => Some(Try(new java.math.BigDecimal(text)).toOption
        .map(_.setScale(2, RoundingMode.HALF_UP))
        .filter(d => d.precision - d.scale <= 8).orNull)
      case _ => Some(text)
    }

  /** What a data line must read as; `cells` counts its cells. */
  private case class Expected(id: Int, file: String, line: String,
      cells: Int, reason: String, raws: Seq[String], values: Seq[Any])

  private def expect(id: Int, file: String, cells: Seq[Cell]): Expected = {
    val all = Cell(id.toString, quoted = false) +: cells
    val raws = all.take(width).map(c => if (c.text.isEmpty) null else c.text)
      .padTo(width, null)
    val line = all.map(_.encoded).mkString(",")
    val malformed = all.size > width ||
      (all.size < width && line.split(",", -1).length >= width)
    val parsed = schema.fieldNames.toSeq.zip(raws).map { case (n, r) => n -> parse(n, r) }
    val failed = parsed.collect { case (n, None) if strict(n) => n }
    val reason =
      if (malformed) "malformed_line"
      else if (failed.nonEmpty) failed.mkString("bad_cast:", ",", "")
      else null
    Expected(id, file, line, all.size, reason, raws, parsed.map(_._2.orNull))
  }

  private def value(v: Any): Any = v match {
    case d: java.sql.Date => d.toLocalDate
    case other => other
  }

  // ---- the property ---------------------------------------------- //

  test("readChecked agrees with an independent P1–P7 parser on generated RFC-4180 files") {
    assert(spark.conf.get("spark.sql.csv.parser.columnPruning.enabled") == "true")
    val header = schema.fieldNames.mkString(",")
    val cases = for (seed <- 1L to 10L) yield {
      val gen = files.pureApply(Gen.Parameters.default, Seed(seed))
      val dir = tmpDir("csv_classify")
      var next = 0
      val expected = gen.zipWithIndex.flatMap { case (lines, f) =>
        val name = s"f$f.csv"
        val rows = lines.map { cells => next += 1; expect(next, name, cells) }
        Files.write(Paths.get(dir, name),
          (header +: rows.map(_.line))
            .mkString("", "\n", if (f % 2 == 0) "\n" else "")
            .getBytes("UTF-8"))
        rows
      }
      val byId = expected.map(e => e.id -> e).toMap
      val clue = s"seed $seed"
      val checked = CsvIngest.readChecked(spark,
        gen.indices.map(f => s"$dir/f$f.csv"), schema)
      val reason = col(CsvIngest.ReasonCol)
      val raws = schema.fieldNames.toSeq.map(CsvIngest.rawName)

      // The partition and reasons under a full collect.
      val all = checked.collect()
      assert(all.map(_.getAs[Int]("id")).sorted.toSeq == byId.keys.toSeq.sorted, clue)
      for (r <- all) {
        val e = byId(r.getAs[Int]("id"))
        assert(r.getAs[String](CsvIngest.ReasonCol) == e.reason, s"$clue $e")
        assert(r.getAs[String](CsvIngest.SrcFileCol).endsWith(e.file), s"$clue $e")
        if (e.reason != null)
          assert(raws.map(r.getAs[String]) == e.raws, s"$clue $e")
      }
      // Raw cells ride on bad rows only.
      assert(all.filter(_.getAs[String](CsvIngest.ReasonCol) == null)
        .forall(r => raws.forall(r.getAs[String](_) == null)),
        s"$clue: a good row carries raw cells")

      // The same partition under a count and a grouped aggregate.
      val bad = expected.count(_.reason != null).toLong
      assert(checked.filter(reason.isNotNull).count() == bad, clue)
      assert(checked.count() == expected.size.toLong, clue)
      val perFile = checked.groupBy(col(CsvIngest.SrcFileCol))
        .agg(count(lit(1)), count(reason)).collect()
        .map(r => r.getString(0).split('/').last -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(perFile == expected.groupBy(_.file).map { case (f, es) =>
        f -> (es.size.toLong, es.count(_.reason != null).toLong)
      }, clue)

      // Typed good rows equal the independent parser's values.
      val good = CsvIngest.goodRows(checked, schema).collect()
        .map(r => r.getInt(0) -> r.toSeq.map(value)).toMap
      assert(good == expected.filter(_.reason == null)
        .map(e => e.id -> e.values).toMap, clue)
      expected
    }
    // The seeds reach every kind of line the generators can make.
    val lines = cases.flatten
    assert(lines.exists(e => e.cells > width))
    assert(lines.exists(e => e.cells < width && e.reason == null))
    assert(lines.exists(e => e.cells < width && e.reason == "malformed_line"))
    assert(lines.exists(e => e.cells == width &&
      Option(e.reason).exists(_.startsWith("bad_cast:"))))
    assert(lines.exists(e => e.reason == null && e.line.contains("\"")))
  }
}
