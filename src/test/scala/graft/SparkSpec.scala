package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily built;
  * getOrCreate dedupes across suites in the same fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `f` on a fresh session that carries none of
    * [[GraftSession]]'s SQL settings, as a stock user session would.
    * It shares the suite's SparkContext; the shared session is
    * restored as default and active afterwards. */
  def withBareSession[T](
      extend: SparkSession.Builder => SparkSession.Builder = identity)(
      f: SparkSession => T): T = {
    spark // force the shared session (and its SparkContext) up first
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val bare = extend(SparkSession.builder().master("local[4]"))
        .getOrCreate()
      assert(bare ne spark, "expected a fresh session")
      // The shared SparkContext's conf holds the contract; unset it so
      // the session falls back to Spark's own defaults.
      GraftSession.sqlSettings(cores = 1).keys.foreach(bare.conf.unset)
      f(bare)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  /** Execution listeners hear events asynchronously, in order: once an
    * observed marker query's metrics arrive, every earlier event has
    * been delivered. */
  def drainListeners(): Unit = {
    val marker = Observation()
    spark.range(1).observe(marker, count(lit(1))).collect()
    marker.get
  }

  /** Runs `f` and counts the Spark jobs it started, schema-inference
    * and other metadata jobs included: every job submitted while `f`
    * runs carries a job tag of this call (threads `f` starts inherit
    * it), and a listener counts the tagged job starts. */
  def jobsRun[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-run-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag)))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = try f finally sc.removeJobTag(tag)
      drainListeners()
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
