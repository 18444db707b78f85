package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.core.{DeleteVectors, TableStore}
import graft.sources.Stage

/** Staging's history on the carry tier: each cycle stages one carry
  * version of the pinned history (tombstones for the rows it closes,
  * appended files for their re-images and the opened versions), the
  * cycle's one commit publishes it, and the cycle's upkeep keeps the
  * deletion vector and the file count bounded. */
class StagingCarrySpec extends AnyFunSuite with Matchers with SparkSpec {

  private val Staging = "supplier_staging"
  private val t1 = Timestamp.valueOf("2024-03-26 23:41:54.5")
  private val t2 = Timestamp.valueOf("2024-03-27 00:05:43.782")

  // the reference's suppliers.csv and suppliers_v2.csv
  private val scenario1 =
    """1,A101,Virat Kohli,Delhi
      |2,A102,MS Dhoni,Ranchi
      |3,A103,Pujara,Gujarat
      |4,A104,Bumrah,Mumbai
      |5,A105,Rohit Sharma,Hyderabad
      |6,A106,Dravid,Karnataka""".stripMargin
  private val scenario2 =
    """5,A105,Rohit Sharma,Tamilnadu
      |6,A106,Dravid,Tamilnadu
      |7,A107,Pujara,Saurasthra
      |8,A108,Hanuma Vihari,Andhra Pradesh""".stripMargin

  /** The golden 10-row history (`SCD-Configuration Setup.sql:253-266`). */
  private val golden = Seq(
    ("A101", "Delhi", t1, None, "Y"),
    ("A102", "Ranchi", t1, None, "Y"),
    ("A103", "Gujarat", t1, None, "Y"),
    ("A104", "Mumbai", t1, None, "Y"),
    ("A105", "Hyderabad", t1, Some(t2), "N"),
    ("A105", "Tamilnadu", t2, None, "Y"),
    ("A106", "Karnataka", t1, Some(t2), "N"),
    ("A106", "Tamilnadu", t2, None, "Y"),
    ("A107", "Saurasthra", t2, None, "Y"),
    ("A108", "Andhra Pradesh", t2, None, "Y"))

  private def history(p: ScdPipeline) =
    p.staging.orderBy("supplier_key", "supplier_state").collect()
      .map(r => (r.getString(1), r.getString(3), r.getTimestamp(4),
        Option(r.getTimestamp(5)), r.getString(6))).toSeq

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def dataFileNames(dir: Path): Set[String] =
    list(dir).map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet

  private def stagingDir(store: TableStore): Path =
    Paths.get(store.currentPath(Staging).get)

  test("a store whose staging version was written hive-partitioned keeps cycling and ends flat") {
    val root = tmpDir("oldpart-store")
    val stage = new Stage(tmpDir("oldpart-stage"))
    val old = new TableStore(root, spark)
    stage.putContent("suppliers.csv", scenario1)
    new ScdPipeline(spark, old).runCycle(stage, t1)
    // rewrite staging's committed version in the layout older cycles wrote
    old.commit(Map(Staging -> old.stage(Staging,
      old.read(Staging), partitionBy = Seq("current_flag"))))
    list(stagingDir(old)).exists(d => Files.isDirectory(d) &&
      d.getFileName.toString.startsWith("current_flag=")) shouldBe true

    val store = new TableStore(root, spark)
    val pipeline = new ScdPipeline(spark, store)
    stage.putContent("suppliers_v2.csv", scenario2)
    pipeline.runCycle(stage, t2) shouldBe 4L
    history(pipeline) shouldBe golden
    pipeline.master.count() shouldBe 8

    // rewritten flat once: no partition directories, no deletion vector
    val migrated = stagingDir(store)
    list(migrated).filter(Files.isDirectory(_)).map(_.getFileName.toString)
      .filterNot(_.startsWith("_")) shouldBe empty
    DeleteVectors.exists(migrated.toString) shouldBe false

    // the next cycle takes the carry: every file carried, one row closed
    stage.putContent("suppliers_v3.csv", "1,A101,Virat Kohli,Goa")
    pipeline.runCycle(stage, Timestamp.valueOf("2024-03-28 00:00:00")) shouldBe 1L
    // the cycle's own version (an upkeep may have committed on top of it)
    val versions = store.committedVersions(Staging)
    val carried = Paths.get(root, Staging,
      versions(versions.indexOf(migrated.getFileName.toString) + 1))
    dataFileNames(carried) should contain allElementsOf dataFileNames(migrated)
    DeleteVectors.read(spark, carried.toString).get.count() shouldBe 1L
    pipeline.staging.count() shouldBe 11
    pipeline.master.filter("supplier_code = 'A101'")
      .select("supplier_state").collect().map(_.getString(0)).toSeq shouldBe Seq("Goa")
  }

  test("a crash between staging the carry version and the commit keeps the history; the retry applies the batch once") {
    var armed = false
    var stagedVersion: Option[String] = None
    val store = new TableStore(tmpDir("carrycrash-store"), spark) {
      override def commit(updates: Map[String, String],
          expect: Map[String, Option[String]]): Unit =
        if (armed && updates.contains(Staging)) {
          armed = false
          stagedVersion = updates.get(Staging)
          throw new RuntimeException("injected kill before the cycle's commit")
        } else super.commit(updates, expect)
    }
    val stage = new Stage(tmpDir("carrycrash-stage"))
    val pipeline = new ScdPipeline(spark, store)
    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1)
    val before = store.manifest(Staging)
    val historyBefore = history(pipeline)

    armed = true
    stage.putContent("suppliers_v2.csv", scenario2)
    an[RuntimeException] should be thrownBy pipeline.runCycle(stage, t2)
    // the carry version was staged (its directory holds the tombstones
    // and appended rows) but never published
    val orphan = Paths.get(store.root, Staging, stagedVersion.get)
    DeleteVectors.exists(orphan.toString) shouldBe true
    store.manifest(Staging) shouldBe before
    history(pipeline) shouldBe historyBefore
    stage.list().size shouldBe 1

    // the retry re-reads the intact history and applies the batch once
    pipeline.runCycle(stage, t2) shouldBe 4L
    history(pipeline) shouldBe golden
    pipeline.loadHistory.count() shouldBe 2
    pipeline.taskHistory.collect().map(_.getAs[String]("status")).toSeq shouldBe
      Seq("SUCCEEDED", "FAILED", "SUCCEEDED")
  }

  test("after the cycle's upkeep purges staging and a vacuum, no committed version references a missing file") {
    val root = tmpDir("upkeep-store")
    val store = new TableStore(root, spark)
    val stage = new Stage(tmpDir("upkeep-stage"))
    val pipeline = new ScdPipeline(spark, store)
    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1)

    // each cycle moves two suppliers to a new state: two tombstones per
    // cycle on a history this small pass the tombstone share at once
    def everyVersionReads(): Unit =
      store.manifest.keys.foreach { t =>
        store.committedVersions(t).foreach { v =>
          val dir = Paths.get(root, t, v)
          Files.isDirectory(dir) shouldBe true
          DeleteVectors.read(spark, dir.toString).foreach { dv =>
            dv.select("file").distinct().collect().map(_.getString(0))
              .foreach(f => Files.exists(dir.resolve(f)) shouldBe true)
          }
          store.readVersion(t, v, store.read(t).schema).collect()
        }
      }
    Seq("Goa", "Assam", "Bihar").zipWithIndex.foreach { case (st, i) =>
      stage.putContent(s"move$i.csv",
        s"1,A101,Virat Kohli,$st\n2,A102,MS Dhoni,$st")
      pipeline.runCycle(stage, Timestamp.valueOf(s"2024-04-0${i + 1} 00:00:00")) shouldBe 2L
      // the cycle's own version carried a DV; its upkeep committed a
      // purged successor on top of it
      val versions = store.committedVersions(Staging)
      DeleteVectors.exists(Paths.get(root, Staging,
        versions(versions.size - 2)).toString) shouldBe true
      DeleteVectors.exists(stagingDir(store).toString) shouldBe false
      store.vacuum(retain = 1)
      everyVersionReads()
    }
    store.vacuum()
    everyVersionReads()
    pipeline.staging.count() shouldBe 12 // 6 + 2 opened per cycle
    pipeline.master.count() shouldBe 6
    pipeline.master.filter("supplier_state = 'Bihar'").count() shouldBe 2
  }
}
