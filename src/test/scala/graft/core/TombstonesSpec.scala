package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The one form of a deletion vector ([[Tombstones]]): a DV is loaded,
  * combined and written on the driver, so carrying one starts no Spark
  * job, and the on-disk sidecar stays the parquet `(file, pos)` layout
  * Spark's own writer produces. */
class TombstonesSpec extends AnyFunSuite with Matchers with SparkSpec {

  import org.apache.spark.sql.functions._

  private def ids(store: TableStore, t: String): Seq[Long] =
    store.read(t).select("id").collect().map(_.getLong(0)).sorted.toSeq

  private def parquetFiles(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq

  /** Spark jobs started while `f` runs. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { f; Bridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("cloning and restoring a DV'd table without a stats sidecar starts no Spark job") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-nojob"), spark)
    store.overwrite("t",
      (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4))
    store.deleteWhereMoR("t", col("id") % 10 === 0) shouldBe 100L
    val tenths = store.manifest("t")
    store.deleteWhereMoR("t", col("id") % 7 === 0) shouldBe 128L

    jobsDuring {
      store.cloneTable("t", "c")
      store.restoreTable("t", tenths)
    } shouldBe 0
    DeleteVectors.exists(store.currentPath("c").get) shouldBe true
    DeleteVectors.exists(store.currentPath("t").get) shouldBe true
    ids(store, "c") shouldBe (0L until 1000L).filter(i => i % 10 != 0 && i % 7 != 0)
    ids(store, "t") shouldBe (0L until 1000L).filter(_ % 10 != 0)
  }

  test("a DV that Spark's parquet writer wrote in two part files loads, extends and purges") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-compat"), spark)
    val version = store.stage("t",
      (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4))
    val dir = Paths.get(store.root, "t", version).toString
    // the sidecar as Spark writes it: the rows with id % 10 == 0, plus a
    // tombstone naming a file outside the version, which matches no row
    DeleteVectors.withPosition(spark.read.parquet(dir)).filter(col("id") % 10 === 0)
      .select(DeleteVectors.fileNameOf(col("__dv_file")).as("file"), col("__dv_pos").as("pos"))
      .unionByName(Seq(("part-99999-absent.parquet", 0L)).toDF("file", "pos"))
      .repartition(2).write.parquet(Paths.get(dir, DeleteVectors.DvDir).toString)
    store.commit(Map("t" -> version))
    parquetFiles(Paths.get(dir, DeleteVectors.DvDir).toString).size shouldBe 2

    DeleteVectors.load(spark, dir).size shouldBe 100L
    ids(store, "t") shouldBe (0L until 1000L).filter(_ % 10 != 0)

    store.deleteWhereMoR("t", col("id") % 5 === 0) shouldBe 100L
    val extended = store.currentPath("t").get
    DeleteVectors.read(spark, extended).get.as[(String, Long)].collect().toSet shouldBe
      DeleteVectors.withPosition(spark.read.parquet(dir)).filter(col("id") % 5 === 0)
        .select(DeleteVectors.fileNameOf(col("__dv_file")), col("__dv_pos"))
        .as[(String, Long)].collect().toSet
    ids(store, "t") shouldBe (0L until 1000L).filter(_ % 5 != 0)

    store.purgeDeletes("t") shouldBe 200L
    DeleteVectors.exists(store.currentPath("t").get) shouldBe false
    ids(store, "t") shouldBe (0L until 1000L).filter(_ % 5 != 0)
  }
}
