package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.core.TableStore
import graft.sources.Stage

/** The cycle run as its task DAG (see [[ScdPipeline]]'s class doc): the
  * table writes after the duplicate verdict overlap, a failure in one of
  * them is handled as a sequential cycle's would be, and a failed verdict
  * stages no data version at all. Deterministic: the overlap is shown by a
  * latch, never by timing. */
class CycleDagSpec extends AnyFunSuite with Matchers with SparkSpec {

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

  private val Landing = "supplier_landing"
  private val Staging = "supplier_staging"
  private val mv = MaterializedAggregate("by_state",
    keys = Seq("supplier_state"), measures = Seq("supplier_key"))
  private val MvTable = "supplier_mv_by_state"
  private val withMv = ScdConfig.supplier.copy(aggregates = Seq(mv))

  private def statuses(p: ScdPipeline): Seq[String] =
    p.taskHistory.orderBy("cycle_id").collect().map(_.getAs[String]("status")).toSeq

  test("landing's write starts before staging's has finished: the cycle's writes overlap") {
    // landing waits for staging to have started; staged one after the
    // other (landing first), the cycle would hang here until the timeout
    class LatchedStore(root: String) extends TableStore(root, spark) {
      @volatile var stagingStarted = new CountDownLatch(1)
      override def stage(table: String, df: DataFrame, partitionBy: Seq[String]): String = {
        if (table == Staging) stagingStarted.countDown()
        if (table == Landing && !stagingStarted.await(30, TimeUnit.SECONDS))
          throw new AssertionError("landing waited 30 s for staging's write to start")
        super.stage(table, df, partitionBy)
      }
    }
    val store = new LatchedStore(tmpDir("dag-overlap-store"))
    val stage = new Stage(tmpDir("dag-overlap-stage"))
    val pipeline = new ScdPipeline(spark, store)

    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1) shouldBe 6L
    store.stagingStarted = new CountDownLatch(1)
    stage.putContent("suppliers_v2.csv", scenario2)
    pipeline.runCycle(stage, t2) shouldBe 4L

    // the golden 10-row history (SCD-Configuration Setup.sql:253-266)
    pipeline.staging.orderBy("supplier_key", "supplier_state").collect()
      .map(r => (r.getString(1), r.getString(3), r.getTimestamp(4),
        Option(r.getTimestamp(5)), r.getString(6))).toSeq shouldBe Seq(
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
    statuses(pipeline) shouldBe Seq("SUCCEEDED", "SUCCEEDED")
  }

  test("a failing concurrent write fails the cycle with its own exception, after every write has returned") {
    val injected = new RuntimeException("injected staging write failure")
    val sc = spark.sparkContext
    // landing's write is still in flight when staging's fails: it starts
    // only a second after that failure
    class FailingStore(root: String) extends TableStore(root, spark) {
      @volatile var armed = false
      @volatile var cdcRdds = Set.empty[Int]
      @volatile var cdcWasPersisted = false
      @volatile var landingStaged = false
      private val stagingFailed = new CountDownLatch(1)
      override def stage(table: String, df: DataFrame, partitionBy: Seq[String]): String = {
        if (armed && table == Staging) {
          // staging's input reads the cycle's CDC checkpoint
          cdcRdds = df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
          cdcWasPersisted = cdcRdds.nonEmpty && cdcRdds.subsetOf(sc.getPersistentRDDs.keySet)
          stagingFailed.countDown()
          throw injected
        }
        if (armed && table == Landing) {
          stagingFailed.await(30, TimeUnit.SECONDS)
          Thread.sleep(1000)
        }
        val v = super.stage(table, df, partitionBy)
        if (armed && table == Landing) landingStaged = true
        v
      }
    }
    val store = new FailingStore(tmpDir("dag-fail-store"))
    val stage = new Stage(tmpDir("dag-fail-stage"))
    val pipeline = new ScdPipeline(spark, store, config = withMv)
    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1)
    val before = store.manifest

    store.armed = true
    stage.putContent("suppliers_v2.csv", scenario2)
    val e = intercept[RuntimeException](pipeline.runCycle(stage, t2))
    // the status tracker lags the scheduler by the listener bus: drain it,
    // so a job still listed is one that is really running
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    sc.statusTracker.getActiveJobIds() shouldBe empty
    e shouldBe theSameInstanceAs(injected)
    store.landingStaged shouldBe true
    store.cdcWasPersisted shouldBe true
    sc.getPersistentRDDs.keySet.intersect(store.cdcRdds) shouldBe empty

    // every data table is at its pre-cycle version; the run log took the
    // one FAILED row
    val after = store.manifest
    after.keySet shouldBe before.keySet
    (before - ScdPipeline.RunLog).foreach { case (t, v) => after(t) shouldBe v }
    statuses(pipeline) shouldBe Seq("SUCCEEDED", "FAILED")
    stage.list().size shouldBe 1 // not purged: the file is loaded again on retry
  }

  test("a failed duplicate verdict stages no landing, staging or aggregate version") {
    val root = tmpDir("dag-verdict-store")
    val store = new TableStore(root, spark)
    val stage = new Stage(tmpDir("dag-verdict-stage"))
    val pipeline = new ScdPipeline(spark, store, config = withMv) // DuplicatePolicy.Error
    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1)

    def versionDirs(t: String): Set[String] = {
      val s = Files.list(Paths.get(root, t))
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    val tables = Seq(Landing, Staging, MvTable)
    val before = tables.map(t => t -> versionDirs(t)).toMap
    before.values.foreach(_ should not be empty)

    stage.putContent("poison.csv", "9,A105,Dup One,StateA\n10,A105,Dup Two,StateB")
    val e = intercept[IllegalArgumentException](pipeline.runCycle(stage, t2))
    e.getMessage should include("duplicate business keys")
    tables.foreach(t => versionDirs(t) shouldBe before(t))
    statuses(pipeline) shouldBe Seq("SUCCEEDED", "FAILED")
  }
}
