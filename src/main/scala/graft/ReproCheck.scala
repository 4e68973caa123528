package graft

import java.security.MessageDigest

/** Cross-run reproducibility check (round-10 verdict growth item c):
  * every gate must produce IDENTICAL rows under different
  * `spark.sql.shuffle.partitions` — pinning order-independence of
  * every aggregate and the totality of every ORDER BY. A gate whose
  * result depends on partitioning (a float sum folded in shuffle
  * arrival order, a row_number over an under-specified sort) is
  * exactly the class of bug the DuckDB oracle can miss when the
  * default partitioning happens to match.
  *
  * Usage: runMain graft.ReproCheck <sfDir> [q1,q2,...|all] [--stream]
  * Runs each gate at partitions=5 and partitions=17 (coprime, both ≠
  * the 8/32 the other harnesses use), canonical-hashes the collected
  * rows, and fails (exit 1) on any mismatch. `stream_*` gates are
  * skipped unless --stream: their replays rebuild scratch state and
  * dominate runtime; their determinism is already pinned by the
  * batch≡stream equality oracles.
  */
object ReproCheck {
  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val pos = args.filterNot(_.startsWith("--"))
    val sfDir = pos.lift(0).getOrElse("/root/testdata/sf0.001")
    val only = pos.lift(1).filterNot(_ == "all").map(_.split(",").toSet)
    val withStream = flags.contains("--stream")
    val spark = GraftSession.builder("graft-repro", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def hashOf(name: String, parts: Int): String = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      // A gate's hash must not depend on how its scans are split
      // either: vary scan width (openCostInBytes sets the split floor)
      // together with shuffle width and pin invariance to both.
      spark.conf.set("spark.sql.files.openCostInBytes",
        if (parts == 5) (4 * 1024 * 1024).toString else (64 * 1024).toString)
      val rows = SparkEntry.queries(name)(spark, sfDir).collect()
      val md = MessageDigest.getInstance("MD5")
      // row order as produced: every gate ends in ORDER BY, so a
      // total sort IS part of the contract being checked.
      // Length-prefixed encoding (round-11 ADVICE + verdict item 4):
      // "<byte-length>:<bytes>" per row makes the digest injective by
      // construction — no separator byte can collide with row content
      // because the length field delimits exactly how many bytes
      // belong to each row.
      rows.foreach { r =>
        val b = r.toString.getBytes("UTF-8")
        md.update(s"${b.length}:".getBytes("UTF-8"))
        md.update(b)
      }
      md.update(rows.length.toString.getBytes("UTF-8"))
      md.digest().map("%02x".format(_)).mkString
    }

    var failures = 0
    var skipped = 0
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .foreach { name =>
        if (name.startsWith("stream_") && !withStream) {
          skipped += 1
        } else {
          try {
            val a = hashOf(name, 5)
            spark.catalog.clearCache()
            val b = hashOf(name, 17)
            spark.catalog.clearCache()
            if (a != b) {
              failures += 1
              println(s"[repro] MISMATCH $name: p5=$a p17=$b")
            }
          } catch { case e: Throwable =>
            failures += 1
            println(s"[repro] ERROR $name: ${e.getMessage}")
          }
        }
      }
    println(s"[repro] done: $failures failures, $skipped stream gates " +
      "skipped (batch≡stream oracles cover them)")
    spark.stop()
    sys.exit(if (failures > 0) 1 else 0)
  }
}
