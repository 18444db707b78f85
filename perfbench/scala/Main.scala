package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  * {{{
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cores> <work dir> <data dir> <result file>
  * }}}
  *
  * Runs one workload closed-loop with one client for `seconds`, checks the
  * program's outputs outside the timed region, and writes a JSON result
  * (end-to-end metrics, per-layer metrics when traced, checks) to the
  * result file; a traced run also writes its spans next to it. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, cores, work, data, resultFile) = args
    val spark = session(cores.toInt, work)
    val heap = new HeapWatch
    val probe = if (trace == "1") Some(new Probe) else None
    probe.foreach { p =>
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
    }
    val tracer = new Tracer(probe, () => org.apache.spark.BusDrain(spark.sparkContext))
    val ctx = Ctx(spark, seed.toLong, seconds.toDouble, tracer, heap, work, data)
    val res =
      try workload match {
        case "scd_trickle" => ScdBench.run(ctx)
        case "operator_mix" => MixBench.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    Files.writeString(Paths.get(resultFile), Json(res.toMap))
    if (probe.isDefined)
      Files.writeString(Paths.get(resultFile + ".spans.json"), Json(Map(
        "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "wall_ns" -> s.wallNs)).toSeq) ++
        probe.get.spanChildren(tracer.spans.toSeq)))
  }

  /** The benchmark's session: `local[cores]`, shuffle partitions = cores,
    * AQE on with a 64k coalescing floor, UTC, scratch and warehouse inside
    * the work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    tracer: Tracer, heap: HeapWatch, work: String, data: String) {
  def traced: Boolean = tracer.probe.isDefined
}

/** What one run reports: its end-to-end metrics (seconds, rows/s, MB),
  * per-layer metrics (traced runs), counts, and the outcome of every
  * output check. */
final class Result {
  val endToEnd = mutable.LinkedHashMap[String, Double]()
  val perLayer = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  private val born = System.nanoTime()
  private val phases = mutable.LinkedHashMap[String, Double]()

  /** Records that the run reached the end of `name` (seconds since the
    * result was created), for the run's phase timeline in `info`. */
  def phase(name: String): Unit = {
    phases(name) = (System.nanoTime() - born) / 1e9
    info("phases_s") = phases.toMap
  }

  def check(name: String)(ok: => Boolean): Unit = {
    val passed =
      try ok
      catch { case e: Throwable => failures += s"$name: $e"; return fail() }
    if (!passed) { failures += name; fail() }
  }

  private def fail(): Unit = failed += 1

  def toMap: Map[String, Any] = Map(
    "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failed,
    "failures" -> failures.toSeq, "end_to_end" -> endToEnd.toMap,
    "per_layer" -> perLayer.toMap, "info" -> info.toMap)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile); with fewer than 20 samples no percentile above
    * the median qualifies and the maximum (percentile 100) is reported. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0)
    else if (n < 20) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
