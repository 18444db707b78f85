package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Bench, Verify, the dev tools and the
  * specs all run in this session shape, so a row benched, a query
  * verified and a spec asserted see the same engine settings. */
object Session {

  /** `SPARK_GRAFT_CPUS` when set, otherwise the available processors. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with `cores` shuffle partitions, UTC session time,
    * parquet nanosecond timestamps read as longs, AQE with a 64k
    * coalescing floor, no UI, log level ERROR.
    *
    * AQE's coalescing floor is byte-based (default 1 MB) and blind to
    * CPU cost per byte: the array, edit-distance and decode stages push
    * only a few MB through their exchanges but carry seconds of compute,
    * and the 1 MB floor coalesced them to 2-6 tasks on a 32-core session
    * (linkage_fuzzy2_pairs 4.9 → 3.4 s, dedup_jaccard_prefix 7.6 → 4.6 s
    * at 64k). The floor only decides partition counts for small
    * shuffles: under AQE's parallelism-first rule a large exchange sizes
    * its partitions by total bytes / parallelism, far above any floor. */
  def local(cores: Int = Session.cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
