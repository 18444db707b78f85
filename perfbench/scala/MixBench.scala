package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.core.Fs

/** The operator mix: oracled rows of `SparkEntry.queries`, each run
  * through the noop-write action once per round, closed-loop. Every row's
  * output is written once before the timed rounds, for the DuckDB oracle
  * check in `run.py`. */
object MixBench {

  /** CPU-dense rows: their task time exceeds their wall time at this
    * scale. They are the two rows `Par.ensure` widens. */
  val Dense = Seq("dedup_jaccard_prefix", "linkage_fuzzy2_pairs")

  /** Short, job-overhead-bound oracled rows, one per query family. */
  val Short = Seq("q02_filter_project", "text_langid", "ivf_assign_oracled",
    "layout_zorder", "knn_brute", "web_domain_filter", "incremental_agg_distinct")

  val Rows: Seq[String] = Dense ++ Short

  /** The stored fixture `incremental_agg_distinct` reads; building it is
    * the mix's set-up. */
  val Fixture = "index_mv_distinct"
  val SetupRepeats = 9
  val WarmupRounds = 1

  def run(ctx: Ctx): Result = {
    val res = new Result
    val spark = ctx.spark
    val tracer = ctx.tracer
    val dir = ctx.data
    val surface = SparkEntry.indexSurfaces(Fixture)
    val wall = Rows.map(_ -> mutable.ArrayBuffer[Double]()).toMap
    val spans = Rows.map(_ -> mutable.ArrayBuffer[Span]()).toMap
    val rounds = mutable.ArrayBuffer[(Double, Double)]()
    val roundSpans = mutable.ArrayBuffer[Span]()
    val setupTimes = mutable.ArrayBuffer[Double]()
    var gcMs = 0L

    tracer.span("run", "operator_mix") {
      for (_ <- 0 until SetupRepeats) {
        Fs.deleteRecursively(surface.loc(dir))
        setupTimes += tracer.span("setup", Fixture)(surface.ensure(spark, dir))._2.seconds
      }
      res.attempted += SetupRepeats
      res.phase("setup")

      def round(measured: Boolean): Unit = {
        ctx.heap.settle()
        val gc0 = ctx.heap.gcMs
        val (times, rs) = tracer.span("round", "round") {
          Rows.map(name => name -> tracer.span("query", name) {
            SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
          }._2).toMap
        }
        res.attempted += Rows.size
        if (measured) {
          times.foreach { case (name, s) => wall(name) += s.seconds; spans(name) += s }
          rounds += ((rs.seconds, Short.map(times(_).seconds).sum))
          roundSpans += rs
          gcMs += ctx.heap.gcMs - gc0
        }
      }

      // outputs for the oracle check, written before the timed rounds; the
      // write keeps each row's own plan (no coalesce; files are in partition
      // order), so this pass also warms the plans the rounds run
      val out = Paths.get(ctx.work, "mix-out")
      Rows.foreach { name =>
        try SparkEntry.queries(name)(spark, dir).write.parquet(out.resolve(name).toString)
        catch { case e: Throwable => res.failed += 1; res.failures += s"$name dump failed: $e" }
      }
      Files.writeString(out.resolve("oracle_sql.json"),
        Json(Rows.map(n => n -> SparkEntry.oracleSql(n)).toMap))
      res.info("oracle_dir") = out.toString
      res.phase("dump")

      try {
        for (_ <- 0 until WarmupRounds) round(measured = false)
        res.phase("warmup")
        val t0 = System.nanoTime()
        while ((System.nanoTime() - t0) / 1e9 < ctx.seconds) round(measured = true)
      } catch {
        case e: Throwable =>
          res.failed += 1
          res.failures += s"query failed: $e"
      }
    }

    res.phase("measure")
    def sumMedians(names: Seq[String]) = names.map(n => Stats.median(wall(n).toSeq)).sum
    val (ct, cp) = Stats.tail(rounds.map(_._1).toSeq)
    val (rt, rp) = Stats.tail(rounds.map(_._2).toSeq)
    res.endToEnd ++= Seq(
      "setup_s" -> Stats.median(setupTimes.toSeq),
      "cycle_p50_s" -> sumMedians(Rows),
      "rows_per_s" -> Dense.size / sumMedians(Dense),
      "peak_heap_mb" -> { ctx.heap.settle(); ctx.heap.peakMb })
    res.info ++= Seq("rounds_measured" -> rounds.size, "round_s" -> rounds.map(_._1).toSeq,
      "read_p50_s" -> sumMedians(Short),
      "cycle_tail_s" -> ct, "cycle_tail_percentile" -> cp, "read_tail_s" -> rt,
      "read_tail_percentile" -> rp, "setup_runs_s" -> setupTimes.toSeq,
      "cpu_dense_s" -> sumMedians(Dense),
      "row_median_s" -> Rows.map(n => n -> Stats.median(wall(n).toSeq)).toMap)

    ctx.tracer.probe.foreach { p =>
      val pl = res.perLayer
      Rows.foreach { n =>
        pl(s"operators.$n.wall_ms") = Stats.median(wall(n).toSeq) * 1000
        pl(s"operators.$n.task_ms") = Stats.median(spans(n).map(s =>
          p.stagesOf(p.jobsIn(s)).map(_.runMs.toDouble).sum).toSeq)
      }
      def perRound(f: Seq[StageRec] => Double) =
        Stats.median(roundSpans.map(s => f(p.stagesOf(p.jobsIn(s)))).toSeq)
      pl("operators.jobs") = Stats.median(roundSpans.map(s => p.jobsIn(s).size.toDouble).toSeq)
      pl("operators.shuffle_mb") = perRound(_.map(_.shuffleWriteBytes.toDouble).sum / 1048576.0)
      pl("operators.widest_stage_ms") = perRound(_.map(r => (r.completedMs - r.submittedMs).toDouble).maxOption.getOrElse(0.0))
      pl("operators.cpu_dense_s") = sumMedians(Dense)
      pl("spark.gc_ms") = gcMs.toDouble / math.max(1, roundSpans.size)
      pl("spark.tasks") = perRound(_.map(_.tasks.toDouble).sum)
      pl("spark.widest_stage_ms") = pl("operators.widest_stage_ms")
      pl("trace.cycle_p50_s") = sumMedians(Rows)
    }

    res
  }
}
