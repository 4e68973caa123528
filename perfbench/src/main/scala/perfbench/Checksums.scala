package perfbench

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import perfbench.RefCsv._

/** Order-independent content checksums of a 28-column table: the row
  * count, NULLs per column, the sum of every non-string column, and
  * min/max of the date and timestamp columns (dates and timestamps as
  * epoch days and epoch micros). Keys read `rows`, `nulls.<col>`,
  * `sum.<col>`, `min.<col>` and `max.<col>`; all values are exact
  * decimals. Checksums of disjoint row sets merge into the checksums
  * of their union.
  */
final case class Checksums(values: SortedMap[String, BigDecimal]) {

  def merge(o: Checksums): Checksums =
    Checksums((values.keySet ++ o.values.keySet).foldLeft(
        SortedMap.empty[String, BigDecimal]) { (acc, k) =>
      val v = (values.get(k), o.values.get(k)) match {
        case (Some(a), Some(b)) =>
          if (k.startsWith("min.")) a.min(b)
          else if (k.startsWith("max.")) a.max(b)
          else a + b
        case (a, b) => a.orElse(b).get
      }
      acc.updated(k, v)
    })

  /** One line per key whose value differs, `expected` being `this`. */
  def diff(observed: Checksums): Seq[String] =
    (values.keySet ++ observed.values.keySet).toSeq.flatMap { k =>
      val (e, o) = (values.get(k), observed.values.get(k))
      if (e == o) None else Some(s"$k: expected ${e.getOrElse("-")}, got ${o.getOrElse("-")}")
    }
}

object Checksums {

  /** Accumulates the checksums of generated rows, cell by cell. */
  final class Builder {
    private var rows = 0L
    private val nulls = Array.fill(columns.size)(0L)
    private val sums = Array.fill(columns.size)(BigDecimal(0))
    private val mins = Array.fill[Option[BigDecimal]](columns.size)(None)
    private val maxs = Array.fill[Option[BigDecimal]](columns.size)(None)
    private val index = columns.zipWithIndex.toMap

    /** Start a row; a row not `kept` leaves no trace. */
    def row(kept: Boolean): Row = {
      if (kept) rows += 1
      new Row(kept)
    }

    final class Row(kept: Boolean) {
      def nullCell(c: Col): Unit = if (kept) nulls(index(c)) += 1
      def value(c: Col, v: BigDecimal): Unit = if (kept) {
        val i = index(c)
        c.kind match {
          case Day | Stamp =>
            mins(i) = Some(mins(i).fold(v)(_.min(v)))
            maxs(i) = Some(maxs(i).fold(v)(_.max(v)))
          case _ =>
        }
        sums(i) += v
      }
    }

    def result: Checksums = {
      val kv = Seq("rows" -> BigDecimal(rows)) ++
        columns.indices.flatMap { i =>
          val n = columns(i).name
          Seq(s"nulls.$n" -> BigDecimal(nulls(i))) ++ (columns(i).kind match {
            case Str => Nil
            case Day | Stamp =>
              Seq(s"sum.$n" -> sums(i)) ++
                mins(i).map(s"min.$n" -> _) ++ maxs(i).map(s"max.$n" -> _)
            case _ => Seq(s"sum.$n" -> sums(i))
          })
        }
      Checksums(SortedMap(kv: _*))
    }
  }

  private def total(name: String, v: Column): (String, Column) =
    s"sum.$name" -> coalesce(sum(v.cast(DecimalType(38, 2))), lit(BigDecimal(0)))

  private def extremes(name: String, v: Column): Seq[(String, Column)] =
    Seq(total(name, v), s"min.$name" -> min(v), s"max.$name" -> max(v))

  /** The same checksums, computed by Spark over a converted table and
    * grouped by `key`, in one aggregate job. */
  def observe(df: DataFrame, key: Column): Map[String, Checksums] = {
    val aggs: Seq[(String, Column)] = Seq("rows" -> count(lit(1))) ++
      columns.flatMap { c =>
        val v = col(c.name)
        Seq(s"nulls.${c.name}" -> count_if(v.isNull)) ++ (c.kind match {
          case Str => Nil
          case Day => extremes(c.name, unix_date(v))
          case Stamp => extremes(c.name, unix_micros(v.cast(TimestampType)))
          case _ => Seq(total(c.name, v))
        })
      }
    val names = aggs.map(_._1)
    val rows = df.groupBy(key.as("_key"))
      .agg(aggs.head._2, aggs.tail.map(_._2): _*).collect()
    rows.map { r =>
      val kv = names.zipWithIndex.flatMap { case (n, i) =>
        Option(r.get(i + 1)).map(v => n -> BigDecimal(v.toString))
      }
      r.get(0).toString -> Checksums(SortedMap(kv: _*))
    }.toMap
  }
}
