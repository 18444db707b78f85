import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-stage profiler for SparkEntry queries: runs each named query
  * with the bench's session shape (local[N] with N shuffle partitions,
  * N = available processors; Bench's 64k AQE coalescing floor; noop sink)
  * and prints job/stage wall-clock, task time, shuffle bytes — the
  * empirical attribution pass of guide §1. Dev tool, not a bench.
  *
  * Usage: `sbt "runMain Prof <query>[,query...] [runs]"`
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("dedup_jaccard_prefix"))
    val runs = if (args.length > 1) args(1).toInt else 1
    val cores = Runtime.getRuntime.availableProcessors
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Bench's coalescing floor: without it AQE coalesces the CPU-heavy
      // small shuffles to a few tasks and the profile disagrees with the
      // bench row it is meant to explain
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    case class St(var name: String = "", var submitted: Long = 0L,
      var completed: Long = 0L, var taskTime: Long = 0L,
      var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
      var input: Long = 0L, var tasks: Int = 0)
    val stages = mutable.LinkedHashMap[Int, St]()
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        val st = stages.getOrElseUpdate(s.stageInfo.stageId, St())
        st.name = s.stageInfo.name
        st.submitted = System.nanoTime()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val st = stages.getOrElseUpdate(s.stageInfo.stageId, St())
        st.completed = System.nanoTime()
        st.tasks = s.stageInfo.numTasks
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          st.taskTime = m.executorRunTime
          st.shuffleRead = m.shuffleReadMetrics.totalBytesRead
          st.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
          st.input = m.inputMetrics.bytesRead
        }
      }
    }
    names.foreach { n =>
      val fn: (SparkSession, String) => Unit =
        if (n.endsWith("_build")) {
          val surf = graft.SparkEntry.indexSurfaces(n.stripSuffix("_build"))
          (s, d) => {
            graft.core.Fs.deleteRecursively(surf.loc(d))
            surf.ensure(s, d)
          }
        } else {
          val q = graft.SparkEntry.queries(n)
          (s, d) => q(s, d).write.format("noop").mode("overwrite").save()
        }
      // one untimed warm run so fixture builds / page cache don't skew
      fn(spark, dir)
      (1 to runs).foreach { r =>
        stages.clear(); jobs = 0
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        fn(spark, dir)
        val wall = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.removeSparkListener(listener)
        Thread.sleep(300) // let listener drain
        println(f"===== $n run$r wall=$wall%.3f s, jobs=$jobs, stages=${stages.size} =====")
        val byWall = stages.toSeq.sortBy { case (_, s) => -(s.completed - s.submitted) }
        byWall.take(25).foreach { case (id, s) =>
          val w = (s.completed - s.submitted) / 1e9
          println(f"  stage $id%4d wall=$w%7.3f task=${s.taskTime / 1e3}%8.3f n=${s.tasks}%4d " +
            f"in=${s.input / 1e6}%8.1f MB sr=${s.shuffleRead / 1e6}%8.1f MB " +
            f"sw=${s.shuffleWrite / 1e6}%8.1f MB  ${s.name.take(60)}")
        }
        val totW = stages.valuesIterator.map(s => (s.completed - s.submitted) / 1e9).sum
        println(f"  sum-of-stage-wall=$totW%.3f s (overlap possible), sum-task-time=${stages.valuesIterator.map(_.taskTime).sum / 1e3}%.3f s")
      }
    }
    spark.stop()
  }
}
