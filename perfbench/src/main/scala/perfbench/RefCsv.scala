package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** The reference's canonical 28-column table and a seeded CSV generator
  * for it.
  *
  * The schema is written out from FIXTURES.md A1, because the
  * reference's own `schema.json` is not part of this repository. It is
  * kept in the reference's JSON shape so that `SchemaLoader` parses it
  * inside the benchmark's set-up, as a user's run would.
  *
  * The generator renders every cell itself and records, for the rows
  * it expects to survive, the [[Checksums]] the converted Parquet must
  * reproduce. Nothing here calls the engine's CSV path, so the check is
  * independent of `CsvIngest`.
  */
object RefCsv {

  sealed trait Kind
  case object Str extends Kind
  case object Int32 extends Kind
  case object Int64 extends Kind
  final case class Dec(precision: Int, scale: Int) extends Kind
  case object Day extends Kind
  case object Stamp extends Kind

  final case class Col(name: String, kind: Kind)

  val columns: Vector[Col] = Vector(
    Col("id", Int32), Col("name", Str), Col("description", Str),
    Col("age", Int32), Col("code", Str), Col("large_count", Int64),
    Col("amount", Dec(10, 2)), Col("birth_date", Day), Col("flag", Int32),
    Col("currency_code", Str), Col("account_id", Int64),
    Col("total", Dec(38, 2)), Col("transaction_date", Day),
    Col("quantity", Int32), Col("notes", Str), Col("big_number", Int64),
    Col("event_timestamp", Stamp), Col("address", Str), Col("email", Str),
    Col("huge_number", Int64), Col("phone", Str), Col("order_id", Int32),
    Col("status", Str), Col("massive_count", Int64), Col("city", Str),
    Col("balance", Int64), Col("comments", Str), Col("uuid", Str))

  /** `schema.json` in the reference's format: `id` REQUIRED, the rest
    * OPTIONAL. */
  val schemaJson: String = columns.map { c =>
    val (tpe, extra) = c.kind match {
      case Str => ("BINARY", """, "logicalType": "STRING"""")
      case Int32 => ("INT32", "")
      case Int64 => ("INT64", "")
      case Dec(p, s) =>
        ("BINARY", s""", "logicalType": "DECIMAL", "precision": $p, "scale": $s""")
      case Day => ("INT32", """, "logicalType": "DATE"""")
      case Stamp => ("INT64", """, "logicalType": "TIMESTAMP_MICROS"""")
    }
    val rep = if (c.name == "id") "REQUIRED" else "OPTIONAL"
    s"""  {"name": "${c.name}", "type": "$tpe", "repetition": "$rep"$extra}"""
  }.mkString("{\"fields\": [\n", ",\n", "\n]}\n")

  /** Column kinds whose unparseable cells send a row to quarantine. */
  private def strict(k: Kind): Boolean = k match {
    case Int32 | Int64 | Day | Stamp => true
    case _ => false
  }

  private val strictCols: Vector[Int] =
    columns.indices.filter(i => i > 0 && strict(columns(i).kind)).toVector

  private val words = Vector("alpha", "bravo", "delta", "echo", "kilo",
    "lima", "oscar", "sierra", "tango", "zulu", "north", "south", "paid",
    "open", "closed", "EUR", "USD", "GBP")

  private val Epoch2000 = LocalDateTime.of(2000, 1, 1, 0, 0)
  private val StampFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Day1950 = LocalDate.of(1950, 1, 1).toEpochDay

  /** One generated file: its path, size, row accounting and the
    * checksums of the rows that must reach the Parquet output. */
  final case class Written(path: Path, bytes: Long, rows: Long,
      bad: Long, good: Checksums)

  /** Write `rows` data rows (plus a header) to `path`.
    *
    * @param idBase first value of the `id` column
    * @param badRate share of rows carrying exactly one planted bad cell
    *   in a strict-typed column (int, long, date or timestamp); those
    *   rows must land in quarantine, all others in the output.
    */
  def write(path: Path, seed: Long, idBase: Int, rows: Int,
      badRate: Double): Written = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + idBase)
    val sb = new java.lang.StringBuilder(rows * 360)
    sb.append(columns.map(_.name).mkString(",")).append('\n')
    val sums = new Checksums.Builder
    var bad = 0L
    var r = 0
    while (r < rows) {
      val badCol =
        if (rnd.nextDouble() < badRate)
          strictCols(rnd.nextInt(strictCols.size))
        else -1
      if (badCol >= 0) bad += 1
      val row = sums.row(badCol < 0)
      var c = 0
      while (c < columns.size) {
        if (c > 0) sb.append(',')
        val col = columns(c)
        if (c == badCol) sb.append(badCell(col.kind, rnd))
        else if (c == 0) {
          sb.append(idBase + r); row.value(col, BigDecimal(idBase + r))
        } else {
          val blank = rnd.nextInt(100)
          if (blank < 3) row.nullCell(col)          // empty cell
          else if (blank < 4) {                     // whitespace only
            sb.append("  "); row.nullCell(col)
          } else cell(col, rnd, sb, row)
        }
        c += 1
      }
      sb.append('\n')
      r += 1
    }
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.write(path, bytes)
    Written(path, bytes.length.toLong, rows.toLong, bad, sums.result)
  }

  private def badCell(k: Kind, rnd: SplittableRandom): String = k match {
    case Int32 | Int64 => s"${rnd.nextInt(1000)}O${rnd.nextInt(10)}"
    case Day => s"20${10 + rnd.nextInt(10)}-13-${10 + rnd.nextInt(20)}"
    case Stamp => s"20${10 + rnd.nextInt(10)}-13-01 25:00:00"
    case other => throw new IllegalArgumentException(s"not strict: $other")
  }

  private def cell(col: Col, rnd: SplittableRandom,
      sb: java.lang.StringBuilder, row: Checksums.Builder#Row): Unit =
    col.kind match {
      case Str =>
        val a = words(rnd.nextInt(words.size))
        if (rnd.nextInt(10) == 0) {
          // A quoted cell holding the delimiter.
          sb.append('"').append(a).append(", ")
            .append(words(rnd.nextInt(words.size))).append('"')
        } else sb.append(a).append(rnd.nextInt(10000))
      case Int32 =>
        val v = rnd.nextInt(2000000) - 1000000
        sb.append(v); row.value(col, BigDecimal(v))
      case Int64 =>
        val v = rnd.nextLong(2000000000000L) - 1000000000000L
        sb.append(v); row.value(col, BigDecimal(v))
      case Dec(p, s) =>
        val unscaled = rnd.nextLong(math.pow(10, math.min(p, 15)).toLong)
        val v = BigDecimal(unscaled, s)
        sb.append(v.bigDecimal.toPlainString); row.value(col, v)
      case Day =>
        val d = Day1950 + rnd.nextInt(25000)
        sb.append(LocalDate.ofEpochDay(d)); row.value(col, BigDecimal(d))
      case Stamp =>
        val t = Epoch2000.plusSeconds(rnd.nextLong(25L * 365 * 86400))
        sb.append(StampFormat.format(t))
        val micros0 = t.toEpochSecond(ZoneOffset.UTC) * 1000000L
        // 0, 3, 6 or 9 fraction digits; 9 truncates to micros.
        val micros = rnd.nextInt(4) match {
          case 0 => micros0
          case 1 =>
            val ms = rnd.nextInt(1000); sb.append(f".$ms%03d")
            micros0 + ms * 1000L
          case 2 =>
            val us = rnd.nextInt(1000000); sb.append(f".$us%06d")
            micros0 + us
          case _ =>
            val ns = rnd.nextInt(1000000000); sb.append(f".$ns%09d")
            micros0 + ns / 1000
        }
        row.value(col, BigDecimal(micros))
    }
}
