package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class RefCsvSpec extends AnyFunSuite {

  private def gen(seed: Long, badRate: Double = 0.01) = {
    val dir = Files.createTempDirectory("refcsv")
    try {
      val w = RefCsv.write(dir.resolve("x.csv"), seed, idBase = 0,
        rows = 2000, badRate = badRate)
      (Files.readAllBytes(w.path), w)
    } finally Dirs.deleteTree(dir)
  }

  test("the same seed writes byte-identical files and checksums") {
    val (a, wa) = gen(7)
    val (b, wb) = gen(7)
    assert(java.util.Arrays.equals(a, b))
    assert(wa.good == wb.good && wa.bad == wb.bad)
    val (c, _) = gen(8)
    assert(!java.util.Arrays.equals(a, c))
  }

  test("checksums account for planted bad rows and blank cells") {
    val (_, w) = gen(3, badRate = 0.05)
    assert(w.rows == 2000)
    assert(w.bad > 0 && w.bad < 200)
    val v = w.good.values
    assert(v("rows") == BigDecimal(w.rows - w.bad))
    assert(v("nulls.id") == 0)
    assert(v("nulls.notes") > 0) // empty and whitespace-only cells
    assert(v.contains("min.event_timestamp") && v.contains("sum.total"))
  }

  test("schema.json parses into the 28-column reference schema") {
    val s = graft.schema.SchemaLoader.fromJson(RefCsv.schemaJson)
    assert(s.length == 28)
    assert(!s("id").nullable && s("notes").nullable)
    assert(s("total").dataType == org.apache.spark.sql.types.DecimalType(38, 2))
    assert(s("event_timestamp").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
  }
}
