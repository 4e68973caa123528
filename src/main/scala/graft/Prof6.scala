package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only gate-anatomy profiler (optimization round 12): runs each
  * named gate warm (after one warmup pass at sf0.001) and attributes
  * its wall-clock to Spark JOBS — count, per-job duration, stage/task
  * counts — so "which eager action costs what" is a measurement, not
  * a guess. The gap between gate wall and Σ(job wall) is driver-side
  * work (planning, broadcast builds, collect decoding).
  *
  * Usage: runMain graft.Prof6 <sfDir> <gate1,gate2,...> [passes]
  */
object Prof6 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val gates = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("sim_hnsw_layered"))
    val passes = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = GraftSession.builder("graft-prof6",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class Job(id: Int, start: Long, site: String,
        var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0)
    val jobs = new scala.collection.mutable.LinkedHashMap[Int, Job]
    // @volatile: read from the async listener-bus thread, written from
    // the main thread around each measured pass.
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (collecting) jobs.synchronized {
          val site = Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("")
          jobs(js.jobId) = Job(js.jobId, js.time, site)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (collecting) jobs.synchronized {
          jobs.get(je.jobId).foreach(_.end = je.time)
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collecting) jobs.synchronized {
          // attribute the stage to the most recent open job (local
          // mode, sequential gates: good enough for anatomy)
          jobs.values.lastOption.foreach { j =>
            j.stages += 1
            j.tasks += sc.stageInfo.numTasks
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    gates.foreach { g =>
      val fn = SparkEntry.queries(g)
      // warmup at the smallest corpus: janino + JIT outside the window
      try noop(fn(spark, "/root/testdata/sf0.001"))
      catch { case e: Throwable =>
        println(s"[prof6] warmup $g failed: ${e.getMessage}") }
      spark.catalog.clearCache()
      Scaffold.drain()
      (1 to passes).foreach { p =>
        jobs.synchronized { jobs.clear() }
        collecting = true
        val t0 = System.nanoTime()
        noop(fn(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        // Drain the async listener bus before snapshotting so late
        // onJobEnd events don't leave end==0 (which would corrupt
        // jobSum with large negative durations). listenerBus is
        // private[spark]; poll until the last job's end arrives (or
        // 2 s), then filter any stragglers below.
        val deadline = System.nanoTime() + 2000000000L
        while (jobs.synchronized { jobs.values.exists(_.end == 0L) } &&
            System.nanoTime() < deadline) Thread.sleep(20)
        collecting = false
        val setup = Scaffold.drain()
        spark.catalog.clearCache()
        val snap = jobs.synchronized { jobs.values.toSeq }
          .filter(_.end != 0L) // skip jobs whose end never arrived
        val jobSum = snap.map(j => (j.end - j.start) / 1e3).sum
        println(f"%n[prof6] $g pass $p: wall $wall%.2fs (setup $setup%.2fs) " +
          f"jobs ${snap.size} jobSum $jobSum%.2fs driverGap ${wall - setup - jobSum}%.2fs")
        snap.sortBy(j => -(j.end - j.start)).take(14).foreach { j =>
          println(f"[prof6]   job ${j.id}%4d  ${(j.end - j.start) / 1e3}%6.2fs  " +
            f"stages ${j.stages}%3d tasks ${j.tasks}%5d  ${j.site}")
        }
      }
    }
    spark.stop()
  }
}
