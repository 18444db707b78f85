import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import graft.core.TableStore
import graft.pipeline.{ScdConfig, ScdPipeline}
import graft.sources.Stage
import org.apache.spark.sql.types._

/** Pipeline soak: 10 cycles x 20k-row duplicate-laden deltas through one
  * pipeline, checking the history's invariants and landing's carry tier
  * (deltas this large pass its tombstone share nearly every cycle, the
  * carry's worst case). */
object Soak {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.local()
    val root = java.nio.file.Files.createTempDirectory("soak").toString
    try {
      val cfg = ScdConfig("soak",
        StructType(Seq(StructField("k", LongType), StructField("code", StringType),
          StructField("name", StringType), StructField("state", StringType))),
        Seq("code"), Seq("state"),
        duplicatePolicy = graft.pipeline.DuplicatePolicy.KeepOne)
      val store = new TableStore(s"$root/w", spark)
      val stage = new Stage(s"$root/s")
      val p = new ScdPipeline(spark, store, faithful = true, cfg)
      val n = 20000
      val rnd = new scala.util.Random(42)
      var total = 0L
      val codes = scala.collection.mutable.Set[Int]()
      val t0 = System.nanoTime()
      for (cycle <- 1 to 10) {
        // each cycle: 20k-row delta; ~30% keys mutate state, rest churn
        val sb = new StringBuilder
        for (i <- 1 to n) {
          val key = rnd.nextInt(50000)
          codes += key
          val state = if (rnd.nextInt(10) < 3) s"S${rnd.nextInt(50)}" else s"S${key % 50}"
          sb.append(s"$key,C$key,Name$key,$state\n")
        }
        stage.putContent(f"batch$cycle%02d.csv", sb.toString)
        total += p.runCycle(stage, Timestamp.valueOf(f"2024-01-${cycle}%02d 00:00:00"))
        store.vacuum()
      }
      val secs = (System.nanoTime()-t0)/1e9
      println(f"10 cycles x $n rows in $secs%.1f s (${total/secs}%.0f rows/s ingest)")
      val staging = p.staging
      val cur = staging.filter("current_flag='Y'")
      println("staging rows: " + staging.count() + ", current: " + cur.count())
      // invariant: <=1 current row per (code,state)
      val dup = cur.groupBy("code","state").count().filter("count > 1").count()
      println("duplicate current (code,state): " + dup)
      println("master == current: " + (p.master.count() == cur.count()))
      val landing = store.currentPath("soak_landing").get
      val landingFiles = java.nio.file.Files.list(java.nio.file.Paths.get(landing))
      val dataFiles = try landingFiles.iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet")) finally landingFiles.close()
      println(s"landing data files: $dataFiles, tombstones: " +
        graft.core.DeleteVectors.load(spark, landing).size)
      println("landing rows == distinct codes loaded: " + (p.landing.count() == codes.size))
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root)).count()
      println("files on disk after vacuum: " + files)
    } finally graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    spark.stop()
  }
}
