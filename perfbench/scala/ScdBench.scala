package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType, TimestampType}

import graft.core.{Fs, TableStore}
import graft.ops.Scd2
import graft.pipeline.ScdPipeline
import graft.sources.Stage

/** The SCD workload: consecutive `ScdPipeline.runCycle` ticks on a
  * growing history, each followed by a fixed consumer read set, checked
  * after the timed loop against [[ScdModel]] replaying the same deltas. */
object ScdBench {

  /** Default supplier config (faithful, bucketed snapshots), 100k keys;
    * each tick changes 1% of the keys and adds 0.2% new ones. A quarter
    * of the changes are returns to a prior state. */
  val Keys = 100000
  val ChangeFrac = 0.01
  val NewFrac = 0.002
  val ReturnShare = 0.25

  val SetupRepeats = 3
  /** Unmeasured ticks on the loaded store before the timed loop: they
    * warm the JVM on the measured path and give keys prior states. */
  val WarmupTicks = 1
  val BaseMs: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val MinuteMs = 60000L

  private val States = Seq("Andhra Pradesh", "Assam", "Bihar", "Delhi", "Goa",
    "Gujarat", "Haryana", "Karnataka", "Kerala", "Madhya Pradesh", "Maharashtra",
    "Manipur", "Mizoram", "Mumbai", "Odisha", "Punjab", "Rajasthan", "Ranchi",
    "Saurasthra", "Sikkim", "Tamilnadu", "Telangana", "Tripura", "Uttarakhand",
    "West Bengal", "Hyderabad", "Ladakh", "Puducherry")
  private val First = Seq("Virat", "Rohit", "Jasprit", "Ravi", "Shubman", "Rishabh",
    "Hardik", "Ajinkya", "Cheteshwar", "Hanuma", "Rahul", "Mohammed", "Ishant",
    "Umesh", "Kuldeep", "Yuzvendra", "Axar", "Shardul", "Washington", "Mayank")
  private val Last = Seq("Kohli", "Sharma", "Bumrah", "Jadeja", "Gill", "Pant",
    "Pandya", "Rahane", "Pujara", "Vihari", "Dravid", "Shami", "Yadav", "Chahal",
    "Patel", "Thakur", "Sundar", "Agarwal", "Dhoni", "Iyer")
  private val Names = First.size * Last.size

  /** Seeded generator of the initial dimension, the read-set inputs and
    * every tick's delta. Per key it keeps only the current name and state
    * and a bit mask of the states the key has held, which are the states
    * in its history (a state enters the history the first time the key
    * lands in it), so it stays small beside the program's heap. Two
    * generators with the same seed, called in the same order, give the
    * same rows. */
  final class Deltas(seed: Long) {
    private val rng = new Random(seed)
    private val names = mutable.ArrayBuffer[Int]()
    private val states = mutable.ArrayBuffer[Int]()
    private val held = mutable.ArrayBuffer[Int]()
    /** Keys that have held more than one state: the ones that can return. */
    private val returnable = mutable.ArrayBuffer[Int]()

    private def code(i: Int): String = f"S${i + 1}%07d"
    private def supp(i: Int): Supp =
      Supp(i + 1L, code(i), s"${First(names(i) / Last.size)} ${Last(names(i) % Last.size)}", States(states(i)))

    private def set(i: Int, name: Int, state: Int): Unit = {
      names(i) = name
      states(i) = state
      val was = held(i)
      held(i) = was | (1 << state)
      if (Integer.bitCount(was) == 1 && Integer.bitCount(held(i)) == 2) returnable += i
    }

    private def other(n: Int, cur: Int): Int = {
      var x = rng.nextInt(n)
      while (x == cur) x = rng.nextInt(n)
      x
    }

    private def fresh(): Supp = {
      names += rng.nextInt(Names)
      states += rng.nextInt(States.size)
      held += 1 << states.last
      supp(names.size - 1)
    }

    def initial(): Seq[Supp] = Seq.fill(Keys)(fresh())

    /** One delta: `ChangeFrac` of the keys changed, a `ReturnShare` of
      * them drawn from the keys that have a prior state and sent back to
      * one of those states (fewer while few keys have one), the rest split
      * one third name-only changes and two thirds tracked-state changes;
      * plus `NewFrac` new keys. */
    def tick(): Seq[Supp] = {
      val n = names.size
      val want = math.max(1, (n * ChangeFrac).toInt)
      val returns = mutable.LinkedHashSet[Int]()
      val wantReturns = math.min((want * ReturnShare).toInt, returnable.size)
      while (returns.size < wantReturns) returns += returnable(rng.nextInt(returnable.size))
      val others = mutable.LinkedHashSet[Int]()
      while (returns.size + others.size < want) {
        val i = rng.nextInt(n)
        if (!returns(i)) others += i
      }
      returns.foreach { i =>
        val prior = States.indices.filter(s => s != states(i) && (held(i) & (1 << s)) != 0)
        set(i, names(i), prior(rng.nextInt(prior.size)))
      }
      others.foreach { i =>
        if (rng.nextInt(3) == 0) set(i, other(Names, names(i)), states(i))
        else set(i, names(i), other(States.size, states(i)))
      }
      val added = Seq.fill(math.max(1, (n * NewFrac).toInt))(fresh())
      (returns.toSeq ++ others.toSeq).map(supp) ++ added
    }

    /** Fixed read-set inputs: fact rows (code, ts) over the first hour of
      * cycles, and the keys of the current-row lookup. */
    def facts(n: Int): Seq[(String, Long)] =
      Seq.fill(n)((code(rng.nextInt(names.size)), BaseMs + (rng.nextDouble() * 60 * MinuteMs).toLong))
    def lookupKeys(n: Int): Seq[String] = Seq.fill(n)(code(rng.nextInt(names.size))).distinct
  }

  private def csv(rows: Seq[Supp]): String = rows.iterator.map(_.csv).mkString("", "\n", "\n")

  /** The reference's golden walkthrough (`suppliers.csv` then
    * `suppliers_v2.csv`) with its documented 10-row staging history. */
  private def golden(ctx: Ctx, res: Result): Unit = {
    val t1 = Timestamp.valueOf("2024-03-26 23:41:54.5")
    val t2 = Timestamp.valueOf("2024-03-27 00:05:43.782")
    val s1 = Seq(Supp(1, "A101", "Virat Kohli", "Delhi"), Supp(2, "A102", "MS Dhoni", "Ranchi"),
      Supp(3, "A103", "Pujara", "Gujarat"), Supp(4, "A104", "Bumrah", "Mumbai"),
      Supp(5, "A105", "Rohit Sharma", "Hyderabad"), Supp(6, "A106", "Dravid", "Karnataka"))
    val s2 = Seq(Supp(5, "A105", "Rohit Sharma", "Tamilnadu"), Supp(6, "A106", "Dravid", "Tamilnadu"),
      Supp(7, "A107", "Pujara", "Saurasthra"), Supp(8, "A108", "Hanuma Vihari", "Andhra Pradesh"))
    val dir = Paths.get(ctx.work, "golden")
    Fs.deleteRecursively(dir)
    val store = new TableStore(dir.resolve("store").toString, ctx.spark)
    val stage = new Stage(dir.resolve("stage").toString)
    val pipeline = new ScdPipeline(ctx.spark, store)
    val model = new ScdModel
    stage.putContent("suppliers.csv", csv(s1).replace("\n", "\r\n"))
    pipeline.runCycle(stage, t1)
    model.cycle(s1, t1.getTime)
    stage.putContent("suppliers_v2.csv", csv(s2).replace("\n", "\r\n"))
    pipeline.runCycle(stage, t2)
    model.cycle(s2, t2.getTime)
    val expected = Seq(
      Version(s1(0), t1.getTime, None, true), Version(s1(1), t1.getTime, None, true),
      Version(s1(2), t1.getTime, None, true), Version(s1(3), t1.getTime, None, true),
      Version(s1(4), t1.getTime, Some(t2.getTime), false), Version(s2(0), t2.getTime, None, true),
      Version(s1(5), t1.getTime, Some(t2.getTime), false), Version(s2(1), t2.getTime, None, true),
      Version(s2(2), t2.getTime, None, true), Version(s2(3), t2.getTime, None, true))
    val got = versions(pipeline.staging)
    res.check("golden: staging equals the reference's 10-row history")(bag(got) == bag(expected))
    res.check("golden: the model reproduces the reference's history")(bag(model.staging) == bag(expected))
    Fs.deleteRecursively(dir)
  }

  private def bag[T](xs: Iterable[T]): Map[T, Int] = xs.groupMapReduce(identity)(_ => 1)(_ + _)

  private def supp(r: Row): Supp =
    Supp(r.getAs[Long]("supplier_key"), r.getAs[String]("supplier_code"),
      r.getAs[String]("supplier_name"), r.getAs[String]("supplier_state"))

  private def versions(df: DataFrame): Seq[Version] = df.collect().toSeq.map { r =>
    Version(supp(r), r.getAs[Timestamp]("start_date").getTime,
      Option(r.getAs[Timestamp]("end_date")).map(_.getTime), r.getAs[String]("current_flag") == "Y")
  }

  private def dirBytes(p: Path): (Long, Int) = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0))((acc, f) => (acc._1 + Files.size(f), acc._2 + 1))
    finally s.close()
  }

  /** Version directories present under the store, by table. */
  private def versionDirs(root: Path): Map[String, Seq[Path]] =
    if (!Files.exists(root)) Map.empty
    else Files.list(root).iterator().asScala.filter(Files.isDirectory(_)).toSeq.map { t =>
      t.getFileName.toString -> Files.list(t).iterator().asScala.filter(Files.isDirectory(_)).toSeq
    }.toMap

  private val TaskOf = Map(
    "supplier_raw" -> "raw", "supplier_landing" -> "landing",
    "supplier_landing__cdc_snapshot" -> "cdc_snapshot", "supplier_staging" -> "staging",
    "supplier_master" -> "master", "supplier_run_log" -> "run_log",
    "supplier_load_history" -> "load_history")
  private val Tasks = Seq("raw", "landing", "cdc_snapshot", "staging", "master", "bookkeeping")
  private val Tables = Seq("raw", "landing", "cdc_snapshot", "staging", "master", "run_log", "load_history")
  private val OpsTables = Set("landing", "cdc_snapshot", "staging", "master")

  def run(ctx: Ctx): Result = {
    val res = new Result
    val spark = ctx.spark
    val tracer = ctx.tracer
    golden(ctx, res)
    res.phase("golden")

    // inputs come from the generator tick by tick; the model is replayed
    // from a second generator with the same seed after the timed loop, so
    // that the heap measured between ticks holds no copy of the dimension
    val gen = new Deltas(ctx.seed)
    val initialCsv = csv(gen.initial())
    val factRows = gen.facts(2000)
    val lookupKeys = gen.lookupKeys(100)
    val factSchema = new StructType().add("supplier_code", StringType).add("ts", TimestampType)
    val facts = spark.createDataFrame(
      factRows.map { case (c, t) => Row(c, new Timestamp(t)) }.asJava, factSchema)

    var store: TableStore = null
    var stage: Stage = null
    var pipeline: ScdPipeline = null
    var storeRoot: Path = null
    var cycles = 0
    val setupTimes = mutable.ArrayBuffer[Double]()

    tracer.span("run", "scd") {
      // set-up: a fresh store loaded with the initial dimension, repeated
      for (i <- 0 until SetupRepeats) {
        if (storeRoot != null) Fs.deleteRecursively(storeRoot.getParent)
        val dir = Paths.get(ctx.work, s"scd-$i")
        storeRoot = dir.resolve("store")
        stage = new Stage(dir.resolve("stage").toString)
        stage.putContent("initial.csv", initialCsv)
        val (_, s) = tracer.span("setup", "initial_load") {
          store = new TableStore(storeRoot.toString, spark)
          pipeline = new ScdPipeline(spark, store)
          pipeline.runCycle(stage, new Timestamp(BaseMs))
        }
        setupTimes += s.seconds
      }
      res.phase("setup")
      cycles = 1
      res.attempted += SetupRepeats

      val seen = mutable.Set[Path]() ++ versionDirs(storeRoot).values.flatten
      val cycleSpans = mutable.ArrayBuffer[Span]()
      val readSpans = mutable.ArrayBuffer[Span]()
      val rowsLoaded = mutable.ArrayBuffer[Double]()
      val written = mutable.ArrayBuffer[Map[String, (Long, Int)]]()
      val csvBytes = mutable.ArrayBuffer[Double]()
      val listMs = mutable.ArrayBuffer[Double]()
      val vacuumMs = mutable.ArrayBuffer[Double]()
      var gcMs = 0L
      var measuring = false
      var ok = true

      def tick(): Unit = {
        val body = csv(gen.tick())
        val ts = BaseMs + cycles * MinuteMs
        stage.putContent(f"delta_$cycles%05d.csv", body)
        if (ctx.traced) {
          val l0 = System.nanoTime()
          stage.list()
          listMs += (System.nanoTime() - l0) / 1e6
        }
        ctx.heap.settle()
        val gc0 = ctx.heap.gcMs
        val (loaded, cs) = tracer.span("cycle", s"cycle_$cycles") {
          pipeline.runCycle(stage, new Timestamp(ts))
        }
        cycles += 1
        res.attempted += 1
        val (_, rs) = tracer.span("read", "read_set") {
          tracer.span("read", "master_scan") {
            pipeline.master.write.format("noop").mode("overwrite").save()
          }
          tracer.span("read", "asof") {
            Scd2.pointInTime(facts, pipeline.staging, "ts", Seq("supplier_code"))
              .write.format("noop").mode("overwrite").save()
          }
          tracer.span("read", "lookup") {
            pipeline.master.filter(col("supplier_code").isin(lookupKeys: _*)).collect()
          }
        }
        res.attempted += 1
        if (measuring) {
          gcMs += ctx.heap.gcMs - gc0
          cycleSpans += cs
          readSpans += rs
          rowsLoaded += loaded.toDouble
          csvBytes += body.length
          if (ctx.traced) {
            val dirs = versionDirs(storeRoot)
            written += dirs.toSeq.map { case (t, ds) =>
              val fresh = ds.filterNot(seen)
              TaskOf.getOrElse(t, t) -> fresh.map(dirBytes).foldLeft((0L, 0))((a, b) => (a._1 + b._1, a._2 + b._2))
            }.toMap
          }
        }
        val (_, vs) = tracer.span("vacuum", "vacuum") { store.vacuum(retain = 2) }
        if (measuring) vacuumMs += vs.wallNs / 1e6
        seen ++= versionDirs(storeRoot).values.flatten
      }

      try {
        for (_ <- 0 until WarmupTicks) tick()
        res.phase("warmup")
        measuring = true
        val t0 = System.nanoTime()
        while ((System.nanoTime() - t0) / 1e9 < ctx.seconds) tick()
        ctx.heap.settle()
      } catch {
        case e: Throwable =>
          ok = false
          res.failed += 1
          res.failures += s"cycle $cycles failed: $e"
      }

      res.phase("measure")
      val cycleS = cycleSpans.map(_.seconds).toSeq
      val readS = readSpans.map(_.seconds).toSeq
      val (ct, cp) = Stats.tail(cycleS)
      val (rt, rp) = Stats.tail(readS)
      res.endToEnd ++= Seq(
        "setup_s" -> Stats.median(setupTimes.toSeq),
        "cycle_p50_s" -> Stats.median(cycleS),
        "rows_per_s" -> Stats.median(rowsLoaded.zip(cycleS).map { case (n, t) => n / t }.toSeq),
        "peak_heap_mb" -> ctx.heap.peakMb)
      res.info ++= Seq("cycles_measured" -> cycleS.size, "read_p50_s" -> Stats.median(readS),
        "cycle_tail_s" -> ct,
        "cycle_tail_percentile" -> cp, "read_tail_s" -> rt, "read_tail_percentile" -> rp,
        "setup_runs_s" -> setupTimes.toSeq,
        "cycle_s" -> cycleS, "read_s" -> readS, "history_cycles" -> cycles)

      // checks, outside the timed region: the model replays the same
      // deltas from a generator with the same seed
      val model = new ScdModel
      val cdcRows = mutable.ArrayBuffer[Double]()
      val replay = new Deltas(ctx.seed)
      model.cycle(replay.initial(), BaseMs)
      replay.facts(factRows.size)
      replay.lookupKeys(100)
      for (c <- 1 until cycles) {
        val cdc0 = model.cdcRows
        model.cycle(replay.tick(), BaseMs + c * MinuteMs)
        if (c > WarmupTicks) cdcRows += (model.cdcRows - cdc0).toDouble
      }
      res.phase("replay")
      if (ok) {
        res.check("staging equals the model's history")(bag(versions(pipeline.staging)) == bag(model.staging))
        res.check("landing equals the model")(bag(pipeline.landing.collect().toSeq.map(supp)) == bag(model.landing.values))
        res.check("master equals the model's current rows")(bag(pipeline.master.collect().toSeq.map(supp)) == bag(model.master))
        res.check("the CDC stream is fully consumed")(pipeline.streamChanges().isEmpty)
        res.check("run log: one SUCCEEDED row per cycle") {
          val log = pipeline.taskHistory.collect()
          log.length == cycles && log.forall(_.getAs[String]("status") == "SUCCEEDED")
        }
        res.check("point-in-time read equals the model") {
          val got = Scd2.pointInTime(facts, pipeline.staging, "ts", Seq("supplier_code")).collect().toSeq
            .map(r => (r.getAs[String]("supplier_code"), r.getAs[Timestamp]("ts").getTime,
              Option(r.getAs[Timestamp]("start_date")).map(_.getTime)))
          val want = factRows.flatMap { case (c, t) =>
            val vs = model.asOf(c, t)
            if (vs.isEmpty) Seq((c, t, None)) else vs.map(v => (c, t, Some(v.start)))
          }
          bag(got) == bag(want)
        }
        res.check("current-row lookup equals the model") {
          val got = pipeline.master.filter(col("supplier_code").isin(lookupKeys: _*)).collect().toSeq.map(supp)
          bag(got) == bag(model.master.filter(s => lookupKeys.contains(s.code)))
        }
      }

      res.phase("checks")
      val (storeBytes, _) = dirBytes(storeRoot)
      val live = versionDirs(storeRoot).values.map(_.size).sum
      ctx.tracer.probe.foreach { p =>
        val pl = res.perLayer
        def med(f: Span => Double): Double = Stats.median(cycleSpans.map(f).toSeq)
        def rootsBy(s: Span) = p.rootExecsIn(s).groupBy(x => x.target.flatMap(TaskOf.get).getOrElse("other"))
        pl("pipeline.driver_ms") = med(p.driverMs)
        pl("pipeline.jobs_per_cycle") = med(s => p.jobsIn(s).size.toDouble)
        pl("pipeline.actions_per_cycle") = med(s => p.rootExecsIn(s).size.toDouble)
        Tasks.foreach { t =>
          val names = if (t == "bookkeeping") Set("run_log", "load_history") else Set(t)
          pl(s"pipeline.task_ms.$t") = med(s => rootsBy(s).filter(kv => names(kv._1))
            .values.flatten.map(x => (x.endMs - x.startMs).toDouble).sum)
        }
        Tables.foreach { t =>
          pl(s"core.bytes_written.$t") = Stats.median(written.map(_.get(t).map(_._1.toDouble).getOrElse(0.0)).toSeq)
        }
        pl("core.files_written") = Stats.median(written.map(_.values.map(_._2.toDouble).sum).toSeq)
        pl("core.write_mb_per_cycle") = Stats.median(written.map(_.values.map(_._1.toDouble).sum / 1048576.0).toSeq)
        pl("core.store_mb") = storeBytes / 1048576.0
        pl("core.vacuum_ms") = Stats.median(vacuumMs.toSeq)
        pl("core.live_versions") = live.toDouble
        def readMs(name: String) = Stats.median(readSpans.flatMap(tracer.children)
          .filter(_.name == name).map(_.wallNs / 1e6).toSeq)
        pl("core.master_scan_ms") = readMs("master_scan")
        pl("core.lookup_ms") = readMs("lookup")
        pl("ops.asof_ms") = readMs("asof")
        // stages of the jobs under the writes of landing, the CDC snapshot,
        // staging and master: where Merge, SnapshotCdc and Scd2 run
        def opsStages(s: Span) = {
          val roots = p.rootExecsIn(s).filter(_.target.flatMap(TaskOf.get).exists(OpsTables))
            .map(_.execId).toSet
          val execIds = p.execsIn(s).filter(x => roots(x.rootId)).map(_.execId).toSet
          p.stagesOf(p.jobsIn(s).filter(j => execIds(j.execId)))
        }
        pl("ops.task_ms") = med(s => opsStages(s).map(_.runMs.toDouble).sum)
        pl("ops.shuffle_write_mb") = med(s => opsStages(s).map(_.shuffleWriteBytes.toDouble).sum / 1048576.0)
        pl("ops.spill_mb") = med(s => opsStages(s).map(_.spillBytes.toDouble).sum / 1048576.0)
        pl("ops.exchanges") = med(s => p.qesIn(s.id).map(_.exchanges.toDouble).sum)
        pl("ops.broadcasts") = med(s => p.qesIn(s.id).map(_.broadcasts.toDouble).sum)
        pl("ops.cdc_rows") = Stats.median(cdcRows.toSeq)
        pl("sources.csv_mb") = Stats.median(csvBytes.toSeq) / 1048576.0
        pl("sources.rows_loaded") = Stats.median(rowsLoaded.toSeq)
        pl("sources.list_ms") = Stats.median(listMs.toSeq)
        pl("spark.gc_ms") = gcMs.toDouble / math.max(1, cycleSpans.size)
        pl("spark.tasks") = med(s => p.stagesOf(p.jobsIn(s)).map(_.tasks.toDouble).sum)
        pl("spark.widest_stage_ms") = med(s => p.stagesOf(p.jobsIn(s))
          .map(r => (r.completedMs - r.submittedMs).toDouble).maxOption.getOrElse(0.0))
        pl("trace.cycle_p50_s") = Stats.median(cycleS)
      }
    }
    res
  }
}
