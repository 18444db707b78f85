package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.graftbridge.Bridge

object Bench {

  /** Where one timed run's time went: its jobs and completed stages, the
    * stages' summed task time, shuffle and spill bytes, and the stage
    * with the longest wall time (submission to completion). */
  private[graft] final case class RunProfile(jobs: Int, stages: Int,
      taskMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillBytes: Long, widestStage: String, widestStageMs: Long) {
    def json: String =
      s""""jobs":$jobs,"stages":$stages,"task_ms":$taskMs,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""spill_bytes":$spillBytes,"widest_stage":${jsonString(widestStage)},""" +
        s""""widest_stage_ms":$widestStageMs"""
  }

  /** Collects the jobs and completed stages of every run between `reset`
    * and `snapshot`. Both drain the listener bus first: events reach a
    * listener after the action that caused them has returned, so without
    * the drain a run would lose its last stages to the next run. */
  private[graft] final class RowProfiler(sc: SparkContext) extends SparkListener {
    private var jobs = 0
    private val stages = mutable.ArrayBuffer[StageInfo]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += e.stageInfo }

    def reset(): Unit = {
      Bridge.drainListenerBus(sc)
      synchronized { jobs = 0; stages.clear() }
    }

    /** A stage's name: the plan operators its RDDs were built under, in
      * RDD order. `StageInfo.name` is the call site, and under AQE every
      * stage is submitted from the same pool thread, so it names none. */
    private def operators(s: StageInfo): String = {
      val ops = s.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
      if (ops.isEmpty) s.name else ops.mkString(" > ")
    }

    def snapshot(): RunProfile = {
      Bridge.drainListenerBus(sc)
      synchronized {
        def wallMs(s: StageInfo): Long =
          (for (a <- s.submissionTime; b <- s.completionTime) yield b - a)
            .getOrElse(0L)
        val m = stages.toSeq.flatMap(s => Option(s.taskMetrics))
        val widest = stages.maxByOption(wallMs)
        RunProfile(jobs, stages.size, m.map(_.executorRunTime).sum,
          m.map(_.shuffleReadMetrics.totalBytesRead).sum,
          m.map(_.shuffleWriteMetrics.bytesWritten).sum,
          m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).sum,
          widest.fold("")(operators), widest.fold(0L)(wallMs))
      }
    }
  }

  /** A JSON string literal: backslash, quote and every control char
    * below 0x20 escaped. A raw \f or \b in an exception message, or a tab
    * in oracle SQL, would otherwise make the artifact unparseable. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private final case class Run(secs: Double, ok: Boolean, profile: RunProfile)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.local()
    // JVM/codegen warmup so the first timed query doesn't absorb startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    // min of three runs per query: local[N] timings are noisy (GC, page
    // cache, thermal state — observed ±30% run-to-run on identical
    // plans); the min is the reproducible cost, the median is kept in the
    // self-written artifact so noise-vs-regression adjudication doesn't
    // need a re-run
    //
    // Timing action is a noop-format write, NOT count(): under count()
    // Catalyst prunes every column (deterministic projections drop,
    // EliminateSorts removes presentation sorts, count prunes straight
    // through explode), so narrow-map queries would time only the parquet
    // scan. The noop sink fully evaluates every output row/column with no
    // driver collect and no filesystem write.
    // dev knobs for regression adjudication (the driver sets neither):
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the query set,
    // SPARK_GRAFT_BENCH_RUNS=7 raises the per-query run count (default 3)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val errors = mutable.Map[String, String]()
    val profiler = new RowProfiler(spark.sparkContext)
    spark.sparkContext.addSparkListener(profiler)
    // a failure is recorded, never swallowed: a silently-failing query
    // would otherwise bench as a suspiciously-fast near-zero time
    def timed(name: String)(body: => Unit): Run = {
      profiler.reset()
      val t0 = System.nanoTime()
      val ok =
        try { body; true }
        catch { case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          System.err.println(s"[bench] $name FAILED: ${errors(name)}")
          false
        }
      val secs = (System.nanoTime() - t0) / 1e9
      Run(secs, ok, profiler.snapshot())
    }
    // Stored-index BUILD/PROBE separation: each index is deleted and
    // cold-built ONCE here, timed as its own `<index>_build` row, so
    // the regular indexed-query rows below time pure probes — without
    // this the one-time build hides inside the first timed run and the
    // scale-soak artifact can't show that the probe cost is
    // corpus-independent (the pre-round-9 sf10 artifact read as "the
    // indexed path scales at 54×" when 25 of those 26 s were the build).
    // Builds are timed once (not min-of-N): a build is a one-time cost
    // whose honest figure is the cold run, and N cold rebuilds would
    // triple the bench wall-clock for a smoother min nobody compares.
    // Persisted FIXTURES (Fixture.persistAcrossBenches) are not
    // deleted and, once built, emit no row: re-timing a one-time corpus
    // fixture every run re-measures fixed replay machinery the spec and
    // its oracle row already pin (the 48-batch maintained-stream replay
    // alone was 26% of the sf0.1 bench wall). A fixture's FIRST build on
    // a host is still timed and reported like any index build.
    val buildRuns = SparkEntry.indexSurfaces.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n + "_build") }
      .flatMap { case (n, surf) =>
        if (surf.persistAcrossBenches && surf.built(sfDir)) None
        else {
          if (!surf.persistAcrossBenches)
            graft.core.Fs.deleteRecursively(surf.loc(sfDir))
          Some((n + "_build") -> Seq(timed(n + "_build")(surf.ensure(spark, sfDir))))
        }
      }
    val queryRuns = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        name -> Seq.fill(nRuns)(timed(name)(
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()))
      }
    val runs = buildRuns ++ queryRuns
    def r(d: Double): Double = math.rint(d * 10000) / 10000
    // min over SUCCESSFUL runs only — a fast failure must not masquerade
    // as the query's reproducible cost; all-failed → -1 (clearly invalid)
    // and excluded from the total
    val results = runs.map { case (k, v) =>
      val ok = v.filter(_.ok).map(_.secs)
      k -> (if (ok.nonEmpty) r(ok.min) else -1.0)
    }
    // stdout map carries only queries with a successful run, so the
    // printed "value" always equals the sum of its own per-query map;
    // all-failed queries appear (with their error) in the self-written
    // artifact below, and in num_failed here
    val qs = results.collect { case (k, v) if v >= 0 => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = r(results.map(_._2).filter(_ >= 0).sum)
    // Self-written artifact with the FULL per-query map: stdout capture
    // truncates (a past round lost the head of the map and made
    // regression adjudication manual), so the bench reports itself. The
    // fastest successful run also records where its time went.
    val detail = runs.map { case (k, v) =>
      val sortedOk = v.filter(_.ok).sortBy(_.secs)
      val err = errors.get(k).map(m => s""","err":${jsonString(m)}""").getOrElse("")
      val minOk = if (sortedOk.nonEmpty) r(sortedOk.head.secs) else -1.0
      val medOk = if (sortedOk.nonEmpty) r(sortedOk(sortedOk.size / 2).secs) else -1.0
      val prof = sortedOk.headOption.fold("")("," + _.profile.json)
      s"""    "$k":{"runs":[${v.map(x => r(x.secs)).mkString(",")}],"min":$minOk,"median":$medOk$prof$err}"""
    }.mkString("{\n", ",\n", "\n  }")
    val json =
      s"""{
         |  "metric": "total",
         |  "value": $total,
         |  "unit": "sec",
         |  "sf": "$sfDir",
         |  "num_queries": ${runs.size},
         |  "num_failed": ${errors.size},
         |  "queries": $detail
         |}""".stripMargin
    // default artifact path follows the working directory (the repo root
    // under sbt run), not a hardcoded absolute path. A filtered
    // (SPARK_GRAFT_BENCH_ONLY) run defaults to BENCH_SUBSET.json so a
    // partial A/B can never clobber the canonical full-surface artifact;
    // an explicit SPARK_GRAFT_BENCH_OUT still wins.
    val defaultName = if (only.nonEmpty) "BENCH_SUBSET.json" else "BENCH_LOCAL.json"
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        java.nio.file.Paths.get(sys.props("user.dir"), defaultName).toString))
    java.nio.file.Files.write(out, json.getBytes("UTF-8"))
    // the stdout line stays flat (the driver's parse contract); "detail"
    // points at the self-written artifact carrying per-run times, medians,
    // and errors, so no consumer ever needs to tail-parse stdout
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","detail":${jsonString(out.toString)}}""")
    spark.stop()
  }
}
