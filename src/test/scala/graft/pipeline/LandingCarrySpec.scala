package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.core.{DeleteVectors, TableStore}
import graft.sources.Stage

/** Landing on the carry tier: task 3's MERGE stages one carry version of
  * the pinned landing (tombstones for the rows whose key changed, appended
  * files for the INSERT images), the cycle's one commit publishes it and
  * advances the stream, and landing's upkeep bounds its deletion vector
  * inside the same commit. */
class LandingCarrySpec extends AnyFunSuite with Matchers with SparkSpec {

  private val Landing = ScdPipeline.Landing
  private val t1 = Timestamp.valueOf("2024-03-26 23:41:54.5")
  private val t2 = Timestamp.valueOf("2024-03-27 00:05:43.782")

  private type Supplier = (Long, String, String, String)

  private def csv(rows: Seq[Supplier]): String =
    rows.map { case (k, c, n, s) => s"$k,$c,$n,$s" }.mkString("\n")

  private def rows(p: ScdPipeline): Set[Supplier] = p.landing.collect()
    .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet

  private def dataFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally s.close()
  }

  private def footerRows(f: Path): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), spark.sparkContext.hadoopConfiguration))
    try reader.getRecordCount finally reader.close()
  }

  private def landingDir(store: TableStore): Path = Paths.get(store.currentPath(Landing).get)

  private def consumedVersion(p: ScdPipeline): String =
    p.showStreams().collect().head.getAs[String]("consumed_version")

  test("a cycle writes landing's delta, not landing: every file carried, the INSERT images appended, the DELETE keys' rows tombstoned") {
    val store = new TableStore(tmpDir("landing-delta-store"), spark)
    val stage = new Stage(tmpDir("landing-delta-stage"))
    val pipeline = new ScdPipeline(spark, store)
    val initial = (1 to 3000).map(i => (i.toLong, f"C$i%05d", s"Name$i", s"S${i % 20}"))
    stage.putContent("initial.csv", csv(initial))
    pipeline.runCycle(stage, t1) shouldBe 3000L
    val before = landingDir(store)

    // a 1% delta: 20 keys move, 5 are re-sent unchanged, 5 are new
    val moved = initial.take(20).map { case (k, c, n, s) => (k, c, n, s + "x") }
    val added = (3001 to 3005).map(i => (i.toLong, f"C$i%05d", s"Name$i", "S0"))
    stage.putContent("delta.csv", csv(moved ++ initial.slice(100, 105) ++ added))
    pipeline.runCycle(stage, t2) shouldBe 30L
    val after = landingDir(store)
    store.committedVersions(Landing).takeRight(2) shouldBe
      Seq(before, after).map(_.getFileName.toString)

    // every file of the previous version is carried: the same inode
    val old = dataFiles(before)
    old should not be empty
    old.foreach(f => Files.isSameFile(f, after.resolve(f.getFileName)) shouldBe true)
    // the new files hold exactly the cycle's INSERT images
    val oldNames = old.map(_.getFileName).toSet
    val fresh = dataFiles(after).filterNot(f => oldNames(f.getFileName))
    fresh.map(footerRows).sum shouldBe 25L
    spark.read.parquet(fresh.map(_.toString): _*).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet shouldBe (moved ++ added).toSet
    // the deletion vector holds exactly the DELETE keys' old rows
    val dv = DeleteVectors.read(spark, after.toString).get
    dv.count() shouldBe 20L
    DeleteVectors.withPosition(spark.read.parquet(before.toString))
      .select(col("supplier_code"),
        DeleteVectors.fileNameOf(col("__dv_file")).as("file"), col("__dv_pos").as("pos"))
      .join(dv, Seq("file", "pos")).select("supplier_code")
      .collect().map(_.getString(0)).sorted.toSeq shouldBe moved.map(_._2)

    rows(pipeline) shouldBe (initial.drop(20) ++ moved ++ added).toSet
    pipeline.streamChanges().count() shouldBe 0
  }

  test("a crash between staging landing's carry version and the commit keeps landing and the stream offset; the retry applies the batch once") {
    var armed = false
    var staged: Option[String] = None
    val store = new TableStore(tmpDir("landingcrash-store"), spark) {
      override def commit(updates: Map[String, String],
          expect: Map[String, Option[String]]): Unit =
        if (armed && updates.contains(Landing)) {
          armed = false
          staged = updates.get(Landing)
          throw new RuntimeException("injected kill before the cycle's commit")
        } else super.commit(updates, expect)
    }
    val stage = new Stage(tmpDir("landingcrash-stage"))
    val pipeline = new ScdPipeline(spark, store)
    val initial = (1 to 40).map(i => (i.toLong, f"A$i%03d", s"Name$i", "Delhi"))
    stage.putContent("suppliers.csv", csv(initial))
    pipeline.runCycle(stage, t1)
    val offset = store.manifest(Landing)
    val versionsBefore = store.committedVersions(Landing)

    armed = true
    val moved = initial.take(2).map { case (k, c, n, _) => (k, c, n, "Goa") }
    val added = Seq((41L, "A041", "Name41", "Assam"))
    stage.putContent("delta.csv", csv(moved ++ added))
    an[RuntimeException] should be thrownBy pipeline.runCycle(stage, t2)
    // landing's carry version was staged (its directory holds the
    // tombstones and appended rows) but never published
    val orphan = Paths.get(store.root, Landing, staged.get)
    DeleteVectors.exists(orphan.toString) shouldBe true
    store.committedVersions(Landing) shouldBe versionsBefore
    consumedVersion(pipeline) shouldBe offset
    rows(pipeline) shouldBe initial.toSet
    pipeline.streamChanges().count() shouldBe 0
    stage.list().size shouldBe 1

    // the retry reads the intact landing and applies the batch once
    pipeline.runCycle(stage, t2) shouldBe 3L
    rows(pipeline) shouldBe (initial.drop(2) ++ moved ++ added).toSet
    consumedVersion(pipeline) shouldBe store.manifest(Landing)
    store.committedVersions(Landing) shouldBe versionsBefore :+ store.manifest(Landing)
    pipeline.staging.count() shouldBe 43 // 40 + 2 opened + 1 new
    pipeline.master.count() shouldBe 41
    pipeline.taskHistory.collect().map(_.getAs[String]("status")).toSeq shouldBe
      Seq("SUCCEEDED", "FAILED", "SUCCEEDED")
  }

  test("landing's upkeep purges its deletion vector past the tombstone share inside the cycle's commit, reads unchanged") {
    val root = tmpDir("landing-upkeep-store")
    val store = new TableStore(root, spark)
    val stage = new Stage(tmpDir("landing-upkeep-stage"))
    val pipeline = new ScdPipeline(spark, store)
    var model = (1 to 20).map(i => f"A$i%03d" -> (i.toLong, f"A$i%03d", s"Name$i", "Delhi")).toMap
    stage.putContent("suppliers.csv", csv(model.values.toSeq))
    pipeline.runCycle(stage, t1)

    // one supplier moves per cycle: one tombstone each. Over 21 and 22
    // rows (tombstoned ones included) 1 and 2 tombstones stay within the
    // 10% share; the third, over 23 rows, passes it
    for (i <- 1 to 3) withClue(s"cycle $i: ") {
      val code = f"A$i%03d"
      val row = model(code).copy(_4 = "Goa")
      model += code -> row
      val committed = store.committedVersions(Landing)
      stage.putContent(s"move$i.csv", csv(Seq(row)))
      pipeline.runCycle(stage, Timestamp.valueOf(s"2024-04-0$i 00:00:00")) shouldBe 1L
      // one committed landing version per cycle: the stream's offset
      store.committedVersions(Landing) shouldBe committed :+ store.manifest(Landing)
      consumedVersion(pipeline) shouldBe store.manifest(Landing)
      rows(pipeline) shouldBe model.values.toSet
      val dv = DeleteVectors.read(spark, landingDir(store).toString)
      if (i < 3) dv.map(_.count()) shouldBe Some(i.toLong)
      else dv shouldBe None
    }
    store.vacuum(retain = 1)
    store.committedVersions(Landing).foreach { v =>
      store.readVersion(Landing, v, graft.core.Schemas.landing).collect()
    }
    rows(pipeline) shouldBe model.values.toSet
    pipeline.master.count() shouldBe 20
  }
}
