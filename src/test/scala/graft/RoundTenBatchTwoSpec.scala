package graft

import org.apache.spark.sql.functions._

/** Round-10 growth batch: streaming decontamination, streaming IVF
  * index maintenance, and the tokenizer-fertility-weighted mixture
  * (round-9 verdict growth items a/b/c). */
class RoundTenBatchTwoSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def joinLines(plan: String): Seq[String] =
    plan.linesIterator.filter(l =>
      l.contains("Join") && !l.contains("ReusedExchange")).toSeq

  test("streaming decontamination: TransformWithState keyed state, " +
      "zero joins, per-doc counts a scan-side projection; batch-mode " +
      "totals equal a direct batch census") {
    graft.streaming.EventStreams.withRocksDb(spark) {
      val docs = Tables.documents(spark, sf)
      val corpus = docs.filter(col("doc_id") % 101 =!= 0)
      // benchmark artifacts exactly as the gate builds them
      val mBits = 1 << 17
      val bench = docs.filter(col("doc_id") % 101 === 0)
        .select(explode(array_distinct(
          graft.plans.TextExpressions.tokenNGrams(
            split(col("text"), " "), 3, emitWholeShortDoc = false)))
          .as("gram"))
        .distinct()
      val grams = bench.collect().map(_.getString(0)).toSeq.sorted
      val words = new Array[Long](mBits / 64)
      bench.select(explode(array((0 until 3).map(seed =>
          pmod(xxhash64(lit(seed), col("gram")), lit(mBits.toLong))
            .cast("int")): _*)).as("p")).distinct()
        .collect().foreach { r =>
          val p = r.getInt(0); words(p >>> 6) |= (1L << (p & 63))
        }
      val updates = graft.ops.TrainingData
        .decontamStateUpdates(corpus, grams, words.toSeq).toDF()
      val plan = updates.queryExecution.executedPlan.toString
      assert(plan.contains("TransformWithState"), plan)
      assert(joinLines(plan).isEmpty, plan)
      // batch-mode (single micro-batch) totals = direct batch census
      val got = updates.groupBy(col("source"))
        .agg(max(struct(col("docs"), col("contam"), col("grams"),
          col("hits"))).as("m"))
        .select(col("source"), col("m.docs"), col("m.contam"),
          col("m.grams"), col("m.hits"))
        .orderBy(col("source")).collect().map(_.toString)
      val want = graft.ops.TrainingData
        .decontamCountsProjection(corpus, grams, words.toSeq, mBits, 3)
        .groupBy(col("source"))
        .agg(count(lit(1)), sum(when(col("n_hits") > 0, 1L)
          .otherwise(0L)), sum(col("n_grams")), sum(col("n_hits")))
        .orderBy(col("source")).collect().map(_.toString)
      assert(got.sameElements(want),
        s"got=${got.mkString(";")} want=${want.mkString(";")}")
      // the planted benchmark overlap must actually register
      assert(updates.agg(sum(col("hits"))).head().getLong(0) > 0,
        "no contamination found at all — the gate proves nothing")
    }
  }

  test("streaming ann append: TransformWithState keyed state, zero " +
      "joins; stream assignments equal the batch nearestCells " +
      "assignment; n_members audits per-cell list growth") {
    graft.streaming.EventStreams.withRocksDb(spark) {
      val dirTag = sf.replaceAll("[^A-Za-z0-9.]", "_")
      val indexDir = s"${graft.Scaffold.scratchBase}/$dirTag/ann_spec_index"
      graft.ops.Similarity.annIvfBuildIndex(spark, sf, indexDir)
      val cents = spark.read.parquet(s"$indexDir/centroids")
      val centArr = cents.select(col("cell"), col("cv"))
        .orderBy(col("cell")).collect().map(_.getSeq[Double](1))
      val twins = graft.ops.Similarity.withNearDuplicates(spark, sf)
        .filter(col("vec_id") >= 10000)
        .select(col("vec_id"), col("v"))
      val events = graft.ops.Similarity
        .annAppendStateEvents(twins, centArr).toDF()
      val plan = events.queryExecution.executedPlan.toString
      assert(plan.contains("TransformWithState"), plan)
      assert(joinLines(plan).isEmpty, plan)
      val got = events.select(col("target_id"), col("cell"))
        .orderBy(col("target_id")).collect().map(_.toString)
      val want = graft.ops.Similarity.nearestCells(twins, cents, 1, "v")
        .select(col("vec_id"), col("cell").cast("long"))
        .orderBy(col("vec_id")).collect().map(_.toString)
      assert(got.sameElements(want),
        s"got=${got.length} want=${want.length}")
      // per-cell growth audit: the max n_members of a cell equals the
      // number of twins assigned to it (single-batch run)
      val byCell = events.groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), max(col("n_members")).as("m"))
        .collect()
      byCell.foreach(r =>
        assert(r.getLong(1) == r.getLong(2), r.toString))
    }
  }

  test("fertility mixture: kept subsets of totals, dominant language " +
      "thinned hardest, post-mixture token shares flatter than pre") {
    val rows = graft.ops.LanguageModel.fertilityMixture(spark, sf)
      .collect()
    assert(rows.length > 1, "needs at least two languages")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1), r.toString) // n_kept <= n_docs
      assert(r.getLong(4) <= r.getLong(2), r.toString) // tok_kept <= tok
    }
    val totPre = rows.map(_.getLong(2)).sum.toDouble
    val totPost = rows.map(_.getLong(4)).sum.toDouble
    def spread(shares: Seq[Double]): Double = shares.max - shares.min
    val pre = rows.map(_.getLong(2) / totPre).toSeq
    val post = rows.map(_.getLong(4) / totPost).toSeq
    assert(spread(post) < spread(pre),
      s"mixture did not flatten token shares: pre=$pre post=$post")
    // the language with the largest token total gets the lowest rate
    val biggest = rows.maxBy(_.getLong(2))
    val keepRate = (r: org.apache.spark.sql.Row) =>
      r.getLong(3).toDouble / r.getLong(1)
    rows.foreach { r =>
      if (r != biggest)
        assert(keepRate(biggest) <= keepRate(r) + 0.1,
          s"dominant ${biggest} kept more than $r")
    }
  }
}
