package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE's coalescing floor is byte-based (default 1 MB) and blind to
      // CPU cost per byte: the engine's array/edit-distance/decode stages
      // push only a few MB through their exchanges but carry seconds of
      // compute, and the 1 MB floor was coalescing them to 2-6 tasks on a
      // 32-core session (measured: linkage_fuzzy2_pairs 4.9 → 3.4 s,
      // dedup_jaccard_prefix 7.6 → 4.6 s at 64k). Scale-neutral: with
      // AQE's parallelism-first rule the floor only decides partition
      // counts for SMALL shuffles — a 100 TB exchange sizes partitions by
      // total bytes / parallelism, far above any floor. Env-overridable
      // for A/B (SPARK_GRAFT_AQE_MIN_PARTITION).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
    val errors = scala.collection.mutable.Map[String, String]()
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
          val t0 = System.nanoTime()
          val ok =
            try { surf.ensure(spark, sfDir); true }
            catch { case e: Throwable =>
              errors(n + "_build") =
                Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
              System.err.println(s"[bench] ${n}_build FAILED: ${errors(n + "_build")}")
              false
            }
          Some((n + "_build") -> Seq(((System.nanoTime() - t0) / 1e9, ok)))
        }
      }
    val queryRuns = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      // a failure is recorded, never swallowed: a silently-failing query
      // would otherwise bench as a suspiciously-fast near-zero time
      def once(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok =
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            System.err.println(s"[bench] $name FAILED: ${errors(name)}")
            false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      name -> Seq.fill(nRuns)(once())
    }
    val runs = buildRuns ++ queryRuns
    def r(d: Double): Double = math.rint(d * 10000) / 10000
    // min over SUCCESSFUL runs only — a fast failure must not masquerade
    // as the query's reproducible cost; all-failed → -1 (clearly invalid)
    // and excluded from the total
    val results = runs.map { case (k, v) =>
      val ok = v.collect { case (t, true) => t }
      k -> (if (ok.nonEmpty) r(ok.min) else -1.0)
    }
    // stdout map carries only queries with a successful run, so the
    // printed "value" always equals the sum of its own per-query map;
    // all-failed queries appear (with their error) in the self-written
    // artifact below, and in num_failed here
    val qs = results.collect { case (k, v) if v >= 0 => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = r(results.map(_._2).filter(_ >= 0).sum)
    // full JSON string escape (same contract as Verify's q()): every
    // control char < 0x20 — a raw \f or \b in an exception message would
    // make the artifact unparseable exactly in the failure case it
    // exists to record
    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    // Self-written artifact with the FULL per-query map: stdout capture
    // truncates (a past round lost the head of the map and made
    // regression adjudication manual), so the bench reports itself.
    val detail = runs.map { case (k, v) =>
      val times = v.map(_._1)
      val sortedOk = v.collect { case (t, true) => t }.sorted
      val err = errors.get(k).map(m => s""","err":"${esc(m)}"""").getOrElse("")
      val minOk = if (sortedOk.nonEmpty) r(sortedOk.head) else -1.0
      val medOk = if (sortedOk.nonEmpty) r(sortedOk(sortedOk.size / 2)) else -1.0
      s"""    "$k":{"runs":[${times.map(r).mkString(",")}],"min":$minOk,"median":$medOk$err}"""
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
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","detail":"${esc(out.toString)}"}""")
    spark.stop()
  }
}
