package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** One benchmark workload: a closed loop of operations, one caller.
  *
  * The harness calls [[setup]] once (inside `setup_s`), then, for each
  * operation `i`: [[prepare]] (untimed), [[execute]] (timed), then
  * [[after]] (untimed). After the loop, [[finalCheck]] verifies what
  * was deferred. Operations form passes of [[passSize]]; a run always
  * ends on a pass boundary, so every run measures whole passes, and at
  * least [[minPasses]] of them.
  */
trait Workload {
  def setup(): Unit
  def prepare(i: Int): Unit = ()

  /** Run operation `i`. */
  def execute(i: Int, t: Tracer): Unit

  /** Check operation `i`'s output; returns the problems found. */
  def after(i: Int): Seq[String] = Nil

  /** Deferred checks, by operation. */
  def finalCheck(ops: Int): Map[Int, Seq[String]] = Map.empty

  def passSize: Int = 1

  /** Fewest passes a run measures. */
  def minPasses: Int = 1
  def opName(i: Int): String

  /** The workload's per-layer metrics over the traced operations. */
  def layers(trace: Trace, ops: Seq[Span]): Map[String, Double]

  /** Extra lines for the run's report (e.g. per-gate execution
    * counts), as JSON fields. */
  def report: Map[String, String] = Map.empty
}

object Dirs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
      finally all.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from)
    try all.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    } finally all.close()
  }

  def dir(parent: File, name: String): File = {
    val d = new File(parent, name)
    d.mkdirs()
    d
  }
}
