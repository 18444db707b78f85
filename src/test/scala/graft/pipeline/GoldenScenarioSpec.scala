package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.core.TableStore
import graft.sources.Stage

/** Golden end-to-end replay of the reference's two-scenario walkthrough
  * (`SCD-Configuration Setup.sql`), asserting the exact 10-row staging
  * history documented at `SCD-Configuration Setup.sql:253-266` and the
  * 8-row master, with the two batch timestamps injected.
  *
  * Fixture rows = the reference's `suppliers.csv:1-6` and
  * `suppliers_v2.csv:1-4` (scenario 1: six inserts; scenario 2: A105/A106
  * state → Tamilnadu + A107/A108 inserts).
  */
class GoldenScenarioSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val t1 = Timestamp.valueOf("2024-03-26 23:41:54.5")
  private val t2 = Timestamp.valueOf("2024-03-27 00:05:43.782")

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

  test("two-scenario walkthrough reproduces the golden staging history") {
    val store = new TableStore(tmpDir("golden-store"), spark)
    val stage = new Stage(tmpDir("golden-stage"))
    val pipeline = new ScdPipeline(spark, store)

    // -- scenario 1: PUT + full cycle -------------------------------------
    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1) shouldBe 6L
    stage.list() shouldBe empty // PURGE=TRUE (setup.sql:90-92)

    pipeline.landing.count() shouldBe 6
    pipeline.staging.filter("current_flag = 'Y'").count() shouldBe 6
    pipeline.master.count() shouldBe 6

    // stream fully consumed (SCD-Automation.sql:142)
    pipeline.streamChanges().count() shouldBe 0

    // -- scenario 2 -------------------------------------------------------
    stage.putContent("suppliers_v2.csv", scenario2)
    pipeline.runCycle(stage, t2) shouldBe 4L

    // golden staging table (setup.sql:253-266): 10 rows, 8 current + 2 closed
    val got = pipeline.staging
      .orderBy("supplier_key", "supplier_state")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getTimestamp(4), Option(r.getTimestamp(5)), r.getString(6)))
      .toSeq

    val expected = Seq(
      (1L, "A101", "Virat Kohli", "Delhi", t1, None, "Y"),
      (2L, "A102", "MS Dhoni", "Ranchi", t1, None, "Y"),
      (3L, "A103", "Pujara", "Gujarat", t1, None, "Y"),
      (4L, "A104", "Bumrah", "Mumbai", t1, None, "Y"),
      (5L, "A105", "Rohit Sharma", "Hyderabad", t1, Some(t2), "N"),
      (5L, "A105", "Rohit Sharma", "Tamilnadu", t2, None, "Y"),
      (6L, "A106", "Dravid", "Karnataka", t1, Some(t2), "N"),
      (6L, "A106", "Dravid", "Tamilnadu", t2, None, "Y"),
      (7L, "A107", "Pujara", "Saurasthra", t2, None, "Y"),
      (8L, "A108", "Hanuma Vihari", "Andhra Pradesh", t2, None, "Y"))

    got should contain theSameElementsInOrderAs expected

    // master = the 8 current rows (setup.sql:272-275)
    pipeline.master.count() shouldBe 8
    pipeline.master.filter("supplier_state = 'Tamilnadu'").count() shouldBe 2

    // run log recorded both cycles, latest first (O2)
    val hist = pipeline.taskHistory.collect()
    hist.length shouldBe 2
    hist.map(_.getAs[Long]("rows_loaded")).toSeq shouldBe Seq(4L, 6L)

    // typed Dataset view of the history (SURVEY §1.2)
    {
      val s = spark
      import s.implicits._
      val typed = pipeline.staging.as[graft.core.SupplierVersion]
      typed.filter(_.current_flag == "Y").count() shouldBe 8
      typed.filter(_.end_date.isDefined).count() shouldBe 2
    }
  }

  test("the cycle writes no master table: master is staging's current partition") {
    val store = new TableStore(tmpDir("nomaster-store"), spark)
    val stage = new Stage(tmpDir("nomaster-stage"))
    val pipeline = new ScdPipeline(spark, store)
    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1)
    stage.putContent("suppliers_v2.csv", scenario2)
    pipeline.runCycle(stage, t2)

    store.manifest.keys should not contain "supplier_master"
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(store.root).resolve("supplier_master")) shouldBe false

    // the 8 current rows (setup.sql:272-275)
    def masterRows = pipeline.master.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    val expected = Set(
      (1L, "A101", "Virat Kohli", "Delhi"),
      (2L, "A102", "MS Dhoni", "Ranchi"),
      (3L, "A103", "Pujara", "Gujarat"),
      (4L, "A104", "Bumrah", "Mumbai"),
      (5L, "A105", "Rohit Sharma", "Tamilnadu"),
      (6L, "A106", "Dravid", "Tamilnadu"),
      (7L, "A107", "Pujara", "Saurasthra"),
      (8L, "A108", "Hanuma Vihari", "Andhra Pradesh"))
    masterRows shouldBe expected
    pipeline.master.count() shouldBe 8

    // an old store's leftover master mapping is simply not read
    val s = spark
    import s.implicits._
    store.overwrite("supplier_master",
      Seq((9L, "A999", "Stale", "Nowhere")).toDF(
        "supplier_key", "supplier_code", "supplier_name", "supplier_state"))
    store.manifest.keys should contain("supplier_master")
    masterRows shouldBe expected
  }

  test("a FAILED append that itself fails rides on the cycle's exception as suppressed") {
    val injected = new java.io.IOException("injected run-log commit failure")
    val store = new TableStore(tmpDir("suppress-store"), spark) {
      override def commit(updates: Map[String, String],
          expect: Map[String, Option[String]]): Unit =
        if (updates.keySet == Set(ScdPipeline.RunLog)) throw injected
        else super.commit(updates, expect)
    }
    val stage = new Stage(tmpDir("suppress-stage"))
    val pipeline = new ScdPipeline(spark, store) // DuplicatePolicy.Error
    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1)

    stage.putContent("poison.csv",
      "9,A105,Dup One,StateA\n10,A105,Dup Two,StateB")
    val e = intercept[IllegalArgumentException](pipeline.runCycle(stage, t2))
    e.getMessage should include("duplicate business keys")
    e.getSuppressed.toSeq shouldBe Seq(injected)
    pipeline.taskHistory.collect().map(_.getAs[String]("status")).toSeq shouldBe
      Seq("SUCCEEDED")
  }

  test("a FAILED append raced by another writer's run-log row refuses instead of overwriting it") {
    val root = tmpDir("failrace-store")
    val other = new TableStore(root, spark)
    val otherRow = spark.createDataFrame(
      java.util.Collections.singletonList(Row(42L, t2, 0L, t2, "SUCCEEDED")),
      graft.core.Schemas.runLog)
    // another writer appends its row after the FAILED append read the
    // run log, just before that append commits
    var raced = false
    val store = new TableStore(root, spark) {
      override def commit(updates: Map[String, String],
          expect: Map[String, Option[String]]): Unit = {
        if (!raced && updates.keySet == Set(ScdPipeline.RunLog)) {
          raced = true
          other.overwrite(ScdPipeline.RunLog,
            other.read(ScdPipeline.RunLog).unionByName(otherRow))
        }
        super.commit(updates, expect)
      }
    }
    val stage = new Stage(tmpDir("failrace-stage"))
    val pipeline = new ScdPipeline(spark, store) // DuplicatePolicy.Error
    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1)

    stage.putContent("poison.csv",
      "9,A105,Dup One,StateA\n10,A105,Dup Two,StateB")
    val e = intercept[IllegalArgumentException](pipeline.runCycle(stage, t2))
    raced shouldBe true
    e.getSuppressed.map(_.getClass).toSeq shouldBe
      Seq(classOf[java.util.ConcurrentModificationException])

    // the other writer's row survives; the refused FAILED row is absent
    pipeline.taskHistory.orderBy("cycle_id").collect()
      .map(r => (r.getAs[Long]("cycle_id"), r.getAs[String]("status")))
      .toSeq shouldBe Seq((1L, "SUCCEEDED"), (42L, "SUCCEEDED"))
  }

  test("empty-stage cycle is a no-op, not a crash") {
    val store = new TableStore(tmpDir("empty-store"), spark)
    val stage = new Stage(tmpDir("empty-stage"))
    val pipeline = new ScdPipeline(spark, store)

    pipeline.runCycle(stage, t1) shouldBe 0L
    pipeline.staging.count() shouldBe 0
    pipeline.master.count() shouldBe 0

    // a real cycle, then another empty one: nothing moves
    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t2) shouldBe 6L
    pipeline.runCycle(stage, t2) shouldBe 0L
    pipeline.staging.count() shouldBe 6
    pipeline.streamChanges().count() shouldBe 0
  }

  test("COPY load-history: PURGE=FALSE re-run skips already-loaded files") {
    // the reference's second COPY with PURGE=FALSE relies on load history
    // to not double-load on re-run (SCD-Configuration Setup.sql:183-185)
    val store = new TableStore(tmpDir("ledger-store"), spark)
    val stage = new Stage(tmpDir("ledger-stage"))
    val pipeline = new ScdPipeline(spark, store)

    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1, purge = false) shouldBe 6L
    stage.list().size shouldBe 1 // file kept (no purge)
    pipeline.loadHistory.count() shouldBe 1

    // same staged file, new cycle: load history skips it — 0 rows loaded,
    // staging history unchanged
    pipeline.runCycle(stage, t2, purge = false) shouldBe 0L
    pipeline.staging.count() shouldBe 6
    pipeline.staging.filter("current_flag = 'Y'").count() shouldBe 6

    // a genuinely new file still loads alongside the skipped one
    stage.putContent("suppliers_v2.csv", scenario2)
    pipeline.runCycle(stage, t2, purge = false) shouldBe 4L
    pipeline.staging.count() shouldBe 10
    pipeline.loadHistory.count() shouldBe 2
  }

  test("a poisoned batch leaves a FAILED history row and an intact manifest") {
    val store = new TableStore(tmpDir("fail-store"), spark)
    val stage = new Stage(tmpDir("fail-stage"))
    val pipeline = new ScdPipeline(spark, store) // DuplicatePolicy.Error

    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1)
    val manifestBefore = store.manifest

    // duplicate business key A105 in one batch → the cycle must throw
    stage.putContent("poison.csv",
      "9,A105,Dup One,StateA\n10,A105,Dup Two,StateB")
    an[IllegalArgumentException] should be thrownBy
      pipeline.runCycle(stage, t2)

    // every data table still points at the pre-failure version; only the
    // run log advanced (the best-effort FAILED append)
    val after = store.manifest
    manifestBefore.keys.filterNot(_ == ScdPipeline.RunLog).foreach { t =>
      after(t) shouldBe manifestBefore(t)
    }
    pipeline.staging.count() shouldBe 6
    pipeline.streamChanges().count() shouldBe 0

    val latest = pipeline.taskHistory.collect().head
    latest.getAs[String]("status") shouldBe "FAILED"
    latest.isNullAt(latest.fieldIndex("rows_loaded")) shouldBe true
    // and a subsequent good cycle succeeds normally
    stage.rm()
    stage.putContent("suppliers_v2.csv", scenario2)
    pipeline.runCycle(stage, t2) shouldBe 4L
    pipeline.taskHistory.collect().head.getAs[String]("status") shouldBe "SUCCEEDED"
  }

  test("cycle ids stay monotonic across vacuum (TASK_HISTORY ordering)") {
    // regression: deriving cycle_id from the on-disk version-dir count
    // broke after vacuum() deleted superseded versions — every later cycle
    // re-counted to the same id. Ids now come from max(cycle_id)+1 of the
    // previous log contents.
    val store = new TableStore(tmpDir("cycle-store"), spark)
    val stage = new Stage(tmpDir("cycle-stage"))
    val pipeline = new ScdPipeline(spark, store)

    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1)
    store.vacuum()
    stage.putContent("suppliers_v2.csv", scenario2)
    pipeline.runCycle(stage, t2)
    store.vacuum()
    pipeline.runCycle(stage, t2) // empty stage — still a logged cycle
    store.vacuum()

    pipeline.taskHistory.collect().map(_.getAs[Long]("cycle_id")).toSeq shouldBe
      Seq(3L, 2L, 1L)
  }

  test("maintained aggregate tracks full recompute across cycles, vacuum, and a FAILED cycle") {
    val store = new TableStore(tmpDir("mv-store"), spark)
    val stage = new Stage(tmpDir("mv-stage"))
    val mv = MaterializedAggregate("by_state",
      keys = Seq("supplier_state"), measures = Seq("supplier_key"))
    val pipeline = new ScdPipeline(spark, store,
      config = ScdConfig.supplier.copy(aggregates = Seq(mv)))

    def assertMvMatchesRecompute(): Unit = {
      val got = pipeline.aggregate("by_state")
        .orderBy("supplier_state").collect().map(_.toSeq).toSeq
      val want = graft.ops.IncrementalAgg.fullAggregate(
          pipeline.landing, mv.keys, mv.measures)
        .orderBy("supplier_state").collect().map(_.toSeq).toSeq
      got shouldBe want
    }

    // cycle 1 initializes the MV from the all-INSERT first delta
    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1)
    assertMvMatchesRecompute()
    pipeline.aggregate("by_state").count() shouldBe 6 // six distinct states

    store.vacuum() // MV versions survive vacuum like any table

    // cycle 2: updates move A105/A106 between states (DELETE+INSERT pairs
    // hit both the departed and the arrived group) + two inserts
    stage.putContent("suppliers_v2.csv", scenario2)
    pipeline.runCycle(stage, t2)
    assertMvMatchesRecompute()

    // FAILED cycle: duplicate business key → throw; the MV must stay at
    // its committed value (refresh is inside the atomic commit)
    val mvBefore = pipeline.aggregate("by_state")
      .orderBy("supplier_state").collect().map(_.toSeq).toSeq
    stage.putContent("poison.csv",
      "9,A105,Dup One,StateA\n10,A105,Dup Two,StateB")
    an[IllegalArgumentException] should be thrownBy
      pipeline.runCycle(stage, Timestamp.valueOf("2024-03-28 01:00:00"))
    pipeline.aggregate("by_state")
      .orderBy("supplier_state").collect().map(_.toSeq).toSeq shouldBe mvBefore
    assertMvMatchesRecompute()

    store.vacuum()

    // cycle 3 after the failure: a state flip for A101 still refreshes
    // correctly from the delta alone
    stage.rm()
    stage.putContent("suppliers_v3.csv", "1,A101,Virat Kohli,Goa")
    pipeline.runCycle(stage, Timestamp.valueOf("2024-03-29 02:00:00"))
    assertMvMatchesRecompute()
    // Delhi's count hit zero and must have been dropped, Goa appeared
    val states = pipeline.aggregate("by_state")
      .collect().map(_.getString(0)).toSet
    states should contain("Goa")
    states should not contain "Delhi"
  }

  test("mid-cycle stream peek shows the update pair with stable row ids") {
    val store = new TableStore(tmpDir("peek-store"), spark)
    val stage = new Stage(tmpDir("peek-stage"))
    val pipeline = new ScdPipeline(spark, store)

    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1)

    // apply scenario 2 to landing WITHOUT consuming (simulate the peek at
    // setup.sql:218-228): run the landing merge manually and diff it
    // against landing at the stream's offset — its committed version
    val raw = {
      stage.putContent("suppliers_v2.csv", scenario2)
      stage.readCsv(spark, graft.core.Schemas.raw)
    }
    val landingNext = graft.ops.Merge.upsert(
      pipeline.landing, raw, Seq("supplier_code"))

    val changes = graft.ops.SnapshotCdc
      .diff(pipeline.landing, landingNext, Seq("supplier_code"))
      .collect()

    // 2 inserts + 2 update pairs = 6 rows (setup.sql:220-232)
    changes.length shouldBe 6
    changes.count(_.getAs[String]("_action") == "INSERT") shouldBe 4
    changes.count(_.getAs[String]("_action") == "DELETE") shouldBe 2
    changes.count(_.getAs[Boolean]("_is_update")) shouldBe 4

    // update pair shares one ROW_ID, stable across versions (setup.sql:224-227)
    val a105 = changes.filter(_.getAs[String]("supplier_code") == "A105")
    a105.map(_.getAs[String]("_row_id")).distinct.length shouldBe 1
  }

  test("the stream keeps no copy of landing: its offset is landing's committed version, across vacuum") {
    val store = new TableStore(tmpDir("offset-store"), spark)
    val stage = new Stage(tmpDir("offset-stage"))
    val pipeline = new ScdPipeline(spark, store)
    def consumedVersion =
      pipeline.showStreams().collect().head.getAs[String]("consumed_version")

    stage.putContent("suppliers.csv", scenario1)
    pipeline.runCycle(stage, t1)
    pipeline.runCycle(stage, t1) // empty cycles still write a landing version
    pipeline.runCycle(stage, t1)
    store.vacuum(retain = 2)

    store.manifest.keys.filter(_.contains("__cdc_snapshot")) shouldBe empty
    consumedVersion shouldBe store.manifest(ScdPipeline.Landing)
    pipeline.streamChanges().count() shouldBe 0

    // the next cycle consumes exactly scenario 2's delta from the offset:
    // 2 inserts + 2 update pairs, applied to the history
    stage.putContent("suppliers_v2.csv", scenario2)
    pipeline.runCycle(stage, t2) shouldBe 4L
    val Seq(offset, current) =
      store.committedVersions(ScdPipeline.Landing).takeRight(2)
    consumedVersion shouldBe current
    def landingAt(v: String) =
      store.readVersion(ScdPipeline.Landing, v, graft.core.Schemas.landing)
    val delta = graft.ops.SnapshotCdc
      .diff(landingAt(offset), landingAt(current), Seq("supplier_code"))
      .collect()
    delta.length shouldBe 6
    delta.count(_.getAs[Boolean]("_is_update")) shouldBe 4

    pipeline.staging.count() shouldBe 10
    pipeline.staging.filter("current_flag = 'N'")
      .select("supplier_code", "supplier_state").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("A105", "Hyderabad"), ("A106", "Karnataka"))
    pipeline.streamChanges().count() shouldBe 0
  }

  test("a NULL business key enters the stream once: staging keeps one open version in both modes") {
    // the NULL-key row is loaded once; the next two cycles do not mention it
    for (faithful <- Seq(true, false)) withClue(s"faithful=$faithful: ") {
      val store = new TableStore(tmpDir("nullkey-store"), spark)
      val stage = new Stage(tmpDir("nullkey-stage"))
      val pipeline = new ScdPipeline(spark, store, faithful = faithful)
      stage.putContent("b1.csv", "1,A101,Virat Kohli,Delhi\n9,,Nameless,Goa")
      pipeline.runCycle(stage, t1) shouldBe 2L
      stage.putContent("b2.csv", "1,A101,Virat Kohli,Mumbai")
      pipeline.runCycle(stage, t2) shouldBe 1L
      pipeline.runCycle(stage, Timestamp.valueOf("2024-03-28 00:00:00")) shouldBe 0L

      pipeline.landing.filter("supplier_code IS NULL").count() shouldBe 1
      pipeline.staging.filter("supplier_code IS NULL")
        .select("supplier_key", "start_date", "end_date", "current_flag").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.getTimestamp(2)), r.getString(3)))
        .toSeq shouldBe Seq((9L, t1, None, "Y"))
      pipeline.staging.count() shouldBe 3 // A101 Delhi closed + Mumbai + the NULL key
    }
  }

  test("the stream peek after a NULL-key load is an empty, scan-free frame in the CDC schema") {
    val store = new TableStore(tmpDir("nullpeek-store"), spark)
    val stage = new Stage(tmpDir("nullpeek-stage"))
    val pipeline = new ScdPipeline(spark, store)
    stage.putContent("b1.csv", "1,A101,Virat Kohli,Delhi\n9,,Nameless,Goa")
    pipeline.runCycle(stage, t1)

    val peek = pipeline.streamChanges()
    peek.count() shouldBe 0
    peek.schema shouldBe graft.core.Schemas.withCdcColumns(graft.core.Schemas.landing)
    peek.queryExecution.executedPlan.toString should not include "FileScan"
  }

  test("a store whose landing version was written bucketed keeps cycling without migration") {
    val root = tmpDir("oldbuck-store")
    val stage = new Stage(tmpDir("oldbuck-stage"))
    val old = new TableStore(root, spark)
    stage.putContent("suppliers.csv", scenario1)
    new ScdPipeline(spark, old).runCycle(stage, t1)
    // rewrite landing's committed version in the layout older cycles wrote
    old.commit(Map(ScdPipeline.Landing -> old.stageBucketed(ScdPipeline.Landing,
      old.read(ScdPipeline.Landing), Seq("supplier_code"), 16)))

    // a fresh handle (a new process) reads it through the bucket spec
    val pipeline = new ScdPipeline(spark, new TableStore(root, spark))
    stage.putContent("suppliers_v2.csv", scenario2)
    pipeline.runCycle(stage, t2) shouldBe 4L
    pipeline.staging.count() shouldBe 10
    pipeline.staging.filter("current_flag = 'N'")
      .select("supplier_code", "supplier_state").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("A105", "Hyderabad"), ("A106", "Karnataka"))
    pipeline.landing.count() shouldBe 8
  }

  test("a cycle raced by another writer's cycle refuses its commit instead of overwriting it") {
    val root = tmpDir("occ-store")
    val stageA = new Stage(tmpDir("occ-stage-a"))
    val stageB = new Stage(tmpDir("occ-stage-b"))
    val pipelineB = new ScdPipeline(spark, new TableStore(root, spark))
    // writer A's store runs writer B's whole cycle on the same root just
    // before A's cycle commit: B commits after A pinned its inputs
    var raced = false
    val storeA = new TableStore(root, spark) {
      override def commit(updates: Map[String, String],
          expect: Map[String, Option[String]]): Unit = {
        if (!raced) {
          raced = true
          stageB.putContent("suppliers_v2.csv", scenario2)
          pipelineB.runCycle(stageB, t2) shouldBe 4L
        }
        super.commit(updates, expect)
      }
    }
    val pipelineA = new ScdPipeline(spark, storeA)

    stageA.putContent("suppliers.csv", scenario1)
    a[java.util.ConcurrentModificationException] should be thrownBy
      pipelineA.runCycle(stageA, t1)

    // B's cycle is intact: its rows, its ledger entry, its SUCCEEDED row
    pipelineB.staging.count() shouldBe 4
    pipelineB.landing.count() shouldBe 4
    pipelineB.loadHistory.select("file_name").collect().map(_.getString(0))
      .toSeq shouldBe Seq("suppliers_v2.csv")
    // A's file stays staged for a retry, and A's run is on record as FAILED
    stageA.list().size shouldBe 1
    pipelineA.taskHistory.orderBy("cycle_id").collect()
      .map(_.getAs[String]("status")).toSeq shouldBe Seq("SUCCEEDED", "FAILED")

    // the retry reads the new versions and commits on top of B's cycle
    pipelineA.runCycle(stageA, t2) shouldBe 6L
    pipelineA.landing.count() shouldBe 8
    pipelineA.loadHistory.count() shouldBe 2
  }
}
