package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The per-row profile Bench writes for each row's fastest run. */
class BenchSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("a row profile counts its run's jobs, shuffle bytes and widest stage, " +
      "and none of the run before it") {
    val sc = spark.sparkContext
    // a listener ahead of the profiler on the bus holds up every stage
    // event, so the profile is read while the run's events still queue
    val lagging = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Thread.sleep(200)
    }
    val profiler = new Bench.RowProfiler(sc)
    sc.addSparkListener(lagging)
    sc.addSparkListener(profiler)
    def profile(run: => Unit): Bench.RunProfile = {
      profiler.reset()
      run
      profiler.snapshot()
    }
    try {
      val grouped = profile(spark.range(0, 100000, 1, 4)
        .groupBy((col("id") % 97).as("k")).count()
        .write.format("noop").mode("overwrite").save())
      grouped.jobs should be >= 1
      grouped.stages should be >= 2
      grouped.shuffleWriteBytes should be > 0L
      grouped.shuffleReadBytes should be > 0L
      // named by its plan operators, not by the pool thread's call site
      grouped.widestStage should include ("WholeStageCodegen")
      grouped.json should include (s""""widest_stage_ms":${grouped.widestStageMs}""")

      val narrow = profile(spark.range(0, 1000, 1, 2)
        .write.format("noop").mode("overwrite").save())
      narrow.jobs shouldBe 1
      narrow.stages shouldBe 1
      narrow.shuffleWriteBytes shouldBe 0L
    } finally {
      sc.removeSparkListener(profiler)
      sc.removeSparkListener(lagging)
    }
  }
}
