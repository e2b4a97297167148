package graft

import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.scalatest.funsuite.AnyFunSuite

/** The run harness: the job log's per-phase counts and driver gap, the
  * post-query sweep, query selection, and the one-builder rule. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Exactly one Spark job: one single-task RDD stage. */
  private def oneJob(sleepMs: Long = 0L): Unit = {
    spark.sparkContext.parallelize(1 to 2, 1)
      .map { x => Thread.sleep(sleepMs); x }.count(): Unit
  }

  test("JobLog: exact per-phase job counts and a non-negative gap under inParallel") {
    // a slow listener ahead in the same bus queue holds job-end events
    // back: the counts are exact only if the log flushes the bus
    // before it detaches
    val slow = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(300)
    }
    spark.sparkContext.addSparkListener(slow)
    val run =
      try Harness.JobLog.record(spark) {
        Phases.phase(spark, "a") { oneJob(); oneJob() }
        Phases.inParallel(spark, "b")(() => oneJob(400), () => oneJob(400))
      } finally spark.sparkContext.removeSparkListener(slow)
    val counts = run.byLabel.map { case (label, n, _) => label -> n }.toMap
    assert(counts.get("a").contains(2), s"counts: $counts")
    assert(counts.get("b").contains(2), s"counts: $counts")
    // the two "b" jobs overlap, so summing job durations would
    // overcount busy time; the gap comes from their union
    val Seq(b1, b2) = run.jobs.filter(_.label == "b")
    assert(b2.startMs < b1.endMs, s"b jobs did not overlap: $b1 $b2")
    assert(run.gapMs >= 0, s"gap ${run.gapMs} ms, wall ${run.wallMs} ms")
  }

  test("sweep releases checkpoints, cached frames and __graft_ sink views") {
    Harness.sweep(spark)
    val dir = Files.createTempDirectory("harness-sweep")
    try {
      val ckpt = spark.range(10).toDF("id").localCheckpoint(true)
      val cached = spark.range(20).toDF("id").cache()
      assert(cached.count() == 20)
      spark.range(3).write.mode("overwrite").parquet(dir.resolve("in").toString)
      val q = spark.readStream.schema("id LONG").parquet(dir.resolve("in").toString)
        .writeStream.format("memory").queryName("__graft_harness_sweep")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      assert(spark.table("__graft_harness_sweep").count() == 3)
      assert(ckpt.count() == 10)

      assert(Harness.sweep(spark) == ((2, 1)))
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      assert(spark.sharedState.cacheManager.isEmpty)
      assert(!spark.catalog.tableExists("__graft_harness_sweep"))
      assert(Harness.sweep(spark) == ((0, 0)))
    } finally {
      val stream = Files.walk(dir)
      try stream.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally stream.close()
    }
  }

  test("selectQueries trims whitespace and fails fast on an unknown name") {
    assert(Harness.selectQueries(" ml_iforest , q_score_stream,, ") ==
      Seq("ml_iforest", "q_score_stream"))
    assert(Harness.selectQueries("") == Seq.empty)
    val e = intercept[IllegalArgumentException](
      Harness.selectQueries("ml_iforest,no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
  }

  test("SparkSession.builder appears only in Harness.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no source tree at ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val all = files(root)
    val offenders = all.filter { f =>
      new String(Files.readAllBytes(f.toPath), "UTF-8").contains("SparkSession.builder")
    }.map(_.getName)
    assert(offenders == Seq("Harness.scala"))
  }
}
