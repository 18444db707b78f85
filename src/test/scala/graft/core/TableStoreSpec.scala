package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

class TableStoreSpec extends AnyFunSuite with Matchers with SparkSpec {

  import org.apache.spark.sql.functions._

  test("multi-table commit is all-or-nothing and snapshot-consistent") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("ts"), spark)

    store.overwrite("a", Seq((1, "x")).toDF("id", "v"))
    store.overwrite("b", Seq((1, "y")).toDF("id", "v"))

    // stage new versions of both but commit only via one swap
    val va = store.stage("a", Seq((2, "x2")).toDF("id", "v"))
    // reader still sees the old snapshot until commit
    store.read("a").collect().map(_.getInt(0)).toSeq shouldBe Seq(1)

    val vb = store.stage("b", Seq((2, "y2")).toDF("id", "v"))
    store.commit(Map("a" -> va, "b" -> vb))

    store.read("a").collect().map(_.getInt(0)).toSeq shouldBe Seq(2)
    store.read("b").collect().map(_.getInt(0)).toSeq shouldBe Seq(2)
  }

  test("snapshot(): a reader holding a snapshot sees neither-or-both of " +
      "a two-table commit landing mid-read") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("snap"), spark)
    store.overwrite("a", Seq((1, "x")).toDF("id", "v"))
    store.overwrite("b", Seq((1, "y")).toDF("id", "v"))

    val snap = store.snapshot()
    // first table read from the pinned view
    snap.read("a").collect().map(_.getInt(0)).toSeq shouldBe Seq(1)
    // a two-table commit lands BETWEEN the reader's two reads
    val va = store.stage("a", Seq((2, "x2")).toDF("id", "v"))
    val vb = store.stage("b", Seq((2, "y2")).toDF("id", "v"))
    store.commit(Map("a" -> va, "b" -> vb))
    // the snapshot must keep serving the OLD b — never old-a + new-b
    snap.read("b").collect().map(_.getInt(0)).toSeq shouldBe Seq(1)
    snap.read("a").collect().map(_.getInt(0)).toSeq shouldBe Seq(1)
    // a fresh snapshot sees BOTH sides of the commit
    val after = store.snapshot()
    after.read("a").collect().map(_.getInt(0)).toSeq shouldBe Seq(2)
    after.read("b").collect().map(_.getInt(0)).toSeq shouldBe Seq(2)
    // a table committed after the capture is absent from the old view
    store.overwrite("c", Seq((9, "z")).toDF("id", "v"))
    snap.exists("c") shouldBe false
    intercept[IllegalStateException](snap.read("c"))
    // DV semantics ride along: a MoR delete after the capture is
    // invisible to the pinned view, visible to a fresh one
    store.deleteWhereMoR("a", col("id") === 2)
    after.read("a").count() shouldBe 1L // pinned pre-delete version
    store.snapshot().read("a").count() shouldBe 0L
  }

  test("old reads keep working across a commit (snapshot pinning)") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("ts2"), spark)
    store.overwrite("t", Seq((1, "a")).toDF("id", "v"))

    val pinned = store.read("t") // resolves the current version path now
    store.overwrite("t", Seq((2, "b")).toDF("id", "v"))

    // the pinned frame still reads the old immutable version
    pinned.collect().map(_.getInt(0)).toSeq shouldBe Seq(1)
    store.read("t").collect().map(_.getInt(0)).toSeq shouldBe Seq(2)
  }

  test("crash between tmp-write and manifest rename: old snapshot intact, cycle re-applies exactly-once") {
    // the ONE non-atomic window in the commit protocol (SURVEY §7.5.1):
    // the tmp manifest is on disk but the rename never happened. Inject
    // exactly that state: the first commit writes its tmp file and dies.
    class CrashingStore(root: String) extends TableStore(root, spark) {
      var armed = true
      override def commit(updates: Map[String, String],
          expect: Map[String, Option[String]]): Unit =
        if (!armed) super.commit(updates, expect)
        else {
          armed = false
          val next = manifest ++ updates
          val tmp = java.nio.file.Paths.get(root)
            .resolve("_manifest.tmp-injected-crash")
          java.nio.file.Files.write(tmp,
            next.toSeq.sorted.map { case (t, v) => s"$t\t$v" }
              .mkString("\n").getBytes("UTF-8"))
          throw new RuntimeException(
            "injected kill between tmp-write and manifest rename")
        }
    }

    val store = new CrashingStore(tmpDir("ts-crash"))
    val stage = new graft.sources.Stage(tmpDir("ts-crash-stage"))
    val pipeline = new graft.pipeline.ScdPipeline(spark, store,
      config = graft.pipeline.ScdConfig.supplier)
    stage.putContent("b1.csv", "1,A101,One,S1\n2,A102,Two,S2")

    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    intercept[RuntimeException] {
      pipeline.runCycle(stage, t1)
    }

    // the published snapshot is fully intact: no table from the dead
    // cycle is visible, the ledger never recorded the file, and the CSV
    // was not purged (afterCommit never ran)
    pipeline.staging.count() shouldBe 0
    pipeline.master.count() shouldBe 0
    pipeline.loadHistory.count() shouldBe 0
    stage.list().size shouldBe 1
    // the debris of the crash is exactly one dangling tmp manifest
    java.nio.file.Files.exists(java.nio.file.Paths.get(store.root)
      .resolve("_manifest.tmp-injected-crash")) shouldBe true

    // re-running the SAME cycle applies the file exactly once — the
    // ledger anti-join re-selects it (it never became "loaded"), and the
    // result is indistinguishable from a crash-free run
    pipeline.runCycle(stage, t1)
    pipeline.staging.count() shouldBe 2
    pipeline.master.count() shouldBe 2
    pipeline.loadHistory.collect().map(_.getString(0)).toSeq shouldBe Seq("b1.csv")

    // ...and a THIRD cycle over the same stage loads nothing (the
    // post-rename world is exactly-once too; purge already emptied it)
    pipeline.runCycle(stage, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"))
    pipeline.staging.count() shouldBe 2
    pipeline.loadHistory.count() shouldBe 1

    // vacuum sweeps the orphaned write-ahead versions AND the stale tmp
    // manifest; the live snapshot is untouched
    store.vacuum()
    java.nio.file.Files.list(java.nio.file.Paths.get(store.root))
      .filter(p => p.getFileName.toString.startsWith("_manifest.tmp-"))
      .count() shouldBe 0
    pipeline.staging.count() shouldBe 2

    // the FAILED attempt and both completed cycles are in the run log
    val statuses = pipeline.taskHistory.collect().map(_.getAs[String]("status"))
    statuses.count(_ == "FAILED") shouldBe 1
    statuses.count(_ == "SUCCEEDED") shouldBe 2
  }

  test("two interleaved store instances: the losing same-table commit " +
      "REFUSES instead of silently vanishing; disjoint tables compose") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ts-occ")
    // two instances on one root — the scheduled-OPTIMIZE-beside-a-
    // streaming-sink deployment (separate processes in production; the
    // manifest lock + fresh-merge protocol is identical here)
    val w1 = new TableStore(root, spark)
    val w2 = new TableStore(root, spark)
    w1.overwrite("t", Seq(1).toDF("gen"))
    val v0 = w1.manifest("t")

    // w1 pins its snapshot and stages a rewrite; w2 commits in between
    val staged = w1.stage("t", Seq(2).toDF("gen"))
    w2.overwrite("t", Seq(3).toDF("gen"))
    val lost = intercept[java.util.ConcurrentModificationException] {
      w1.commit(Map("t" -> staged), expect = Map("t" -> Some(v0)))
    }
    lost.getMessage should include("another writer")
    // w2's update survived; w1's staged version is write-ahead garbage
    w1.read("t").head().getInt(0) shouldBe 3

    // the same interleaving through a real DML path: upsertMoR pins v,
    // a racing overwrite moves the pointer mid-flight → refuse
    val w1b = new TableStore(root, spark)
    // simulate the race by committing from w2 AFTER w1b pinned: stage the
    // racing version first, then interleave via a thread barrier-free
    // sequence (upsertMoR is not instrumentable without hooks, so pin the
    // version through commit-level expect — the contract both DML paths
    // share). deleteWhere exercises the pinned path end-to-end:
    w2.overwrite("u", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    w1b.deleteWhere("u", col("id") === 1) shouldBe 1L // no race: fine

    // disjoint tables from two instances both land (fresh-merge under
    // the lock — pre-fix, the second swap erased the first's pointer
    // when each instance worked from its own stale read)
    val sa = w1.stage("a", Seq(10).toDF("gen"))
    val sb = w2.stage("b", Seq(20).toDF("gen"))
    w1.commit(Map("a" -> sa), expect = Map("a" -> None))
    w2.commit(Map("b" -> sb), expect = Map("b" -> None))
    w1.read("a").head().getInt(0) shouldBe 10
    w1.read("b").head().getInt(0) shouldBe 20

    // creating the same NEW table twice: second creator refuses
    val sc = w2.stage("a", Seq(99).toDF("gen"))
    intercept[java.util.ConcurrentModificationException] {
      w2.commit(Map("a" -> sc), expect = Map("a" -> None))
    }
  }

  test("commit refuses a staged version that another handle's vacuum " +
      "swept: the manifest is unchanged and the table reads its previous " +
      "version") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ts-vacuum-race")
    // writer A stages; a second handle on the same root vacuums before
    // A commits (a scheduled OPTIMIZE beside a streaming sink)
    val a = new TableStore(root, spark)
    val b = new TableStore(root, spark)
    a.overwrite("t", Seq(1).toDF("gen"))
    val v0 = a.manifest("t")
    val staged = a.stage("t", Seq(2).toDF("gen"))
    b.vacuum(retain = 2)
    val manifestFile = java.nio.file.Paths.get(root, "_manifest")
    val before = java.nio.file.Files.readAllBytes(manifestFile).toSeq
    val err = intercept[IllegalStateException] {
      a.commit(Map("t" -> staged), expect = Map("t" -> Some(v0)))
    }
    err.getMessage should include(staged)
    java.nio.file.Files.readAllBytes(manifestFile).toSeq shouldBe before
    a.manifest("t") shouldBe v0
    a.read("t").as[Int].collect().toSeq shouldBe Seq(1)
    b.read("t").as[Int].collect().toSeq shouldBe Seq(1)
  }

  test("committedVersions reads the manifest once: a commit landing " +
      "mid-call cannot drop the version it superseded") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ts-hist-race")
    val other = new TableStore(root, spark)
    // a handle whose history read is followed by another writer's commit
    // before the caller reads anything else from the manifest
    var armed = false
    val store = new TableStore(root, spark) {
      override def history: Map[String, Seq[String]] = {
        val h = super.history
        if (armed) {
          armed = false
          other.overwrite("t", Seq(3).toDF("gen"))
        }
        h
      }
    }
    store.overwrite("t", Seq(1).toDF("gen"))
    store.overwrite("t", Seq(2).toDF("gen"))
    val v2 = store.manifest("t")
    armed = true
    val got = store.committedVersions("t")
    // any single manifest read is a prefix of the full lineage, and the
    // version current before the call is in it
    other.committedVersions("t").take(got.size) shouldBe got
    got should contain(v2)
  }

  test("vacuum removes only unreferenced versions") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("ts3"), spark)
    store.overwrite("t", Seq((1, "a")).toDF("id", "v"))
    store.overwrite("t", Seq((2, "b")).toDF("id", "v"))
    store.overwrite("t", Seq((3, "c")).toDF("id", "v"))

    val tableDir = java.nio.file.Paths.get(store.root, "t")
    java.nio.file.Files.list(tableDir).count() shouldBe 3

    store.vacuum()
    java.nio.file.Files.list(tableDir).count() shouldBe 1
    store.read("t").collect().map(_.getInt(0)).toSeq shouldBe Seq(3)
  }

  test("deleteWhere: copy-on-write purge, time travel until vacuum, null-safe predicate") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("del"), spark)
    store.overwrite("docs",
      Seq((1L, Some("keep")), (2L, Some("purge")), (3L, None), (4L, Some("purge")))
        .map { case (id, v) => (id, v.orNull) }.toDF("id", "v"))
    val v0 = store.manifest("docs")

    val removed = store.deleteWhere("docs", col("v") === "purge")
    removed shouldBe 2L
    store.read("docs").orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 3L)
    // NULL predicate rows are KEPT (a null match must not silently purge)
    store.read("docs").filter(col("v").isNull).count() shouldBe 1L
    // the purged version still exists for time travel…
    val schema = store.read("docs").schema
    store.readVersion("docs", v0, schema).count() shouldBe 4L
    // …until vacuum, which is the actual byte-destruction step
    store.vacuum()
    store.versions("docs").size shouldBe 1
    // deleting nothing still commits a clean no-op version
    store.deleteWhere("docs", lit(false)) shouldBe 0L
    store.read("docs").count() shouldBe 2L
  }

  test("time travel: older versions stay readable until vacuum") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("tt"), spark)
    val df1 = Seq((1, "a")).toDF("id", "v")
    store.overwrite("t", df1)
    store.overwrite("t", Seq((2, "b")).toDF("id", "v"))

    val vs = store.versions("t")
    vs.length shouldBe 2
    store.readVersion("t", vs.head, df1.schema)
      .collect().map(_.getInt(0)).toSeq shouldBe Seq(1)
    store.readVersion("t", vs.last, df1.schema)
      .collect().map(_.getInt(0)).toSeq shouldBe Seq(2)
  }

  test("schema evolution: widened version reads under the new schema, " +
      "old versions keep theirs, readOrEmpty tracks the manifest") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("evolve"), spark)
    store.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    // add a column + change a column's meaning: copy-on-write overwrite
    // IS the evolution mechanism — each version is self-describing, so
    // no migration step, no mergeSchema read, no reader coordination
    store.overwrite("t",
      Seq((1L, "a", 0.5), (2L, "b", 0.7)).toDF("id", "v", "score"))

    val cur = store.read("t")
    cur.columns.toSeq shouldBe Seq("id", "v", "score")
    cur.count() shouldBe 2
    // time travel serves the OLD shape — a pinned reader never sees a
    // column it didn't plan for
    val vs = store.versions("t")
    val old = store.readVersion("t", vs.head,
      Seq((1L, "a")).toDF("id", "v").schema)
    old.columns.toSeq shouldBe Seq("id", "v")
    old.count() shouldBe 1
    // narrowing works the same way (drop a column in the next version)
    store.overwrite("t", Seq((3L, 0.9)).toDF("id", "score"))
    store.read("t").columns.toSeq shouldBe Seq("id", "score")
  }

  test("compact merges files without changing content") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("cp"), spark)
    val df = (1 to 100).map(i => (i, s"v$i")).toDF("id", "v").repartition(8)
    store.overwrite("t", df)

    store.compact("t", df.schema, numFiles = 1)
    store.read("t").count() shouldBe 100
    // the compacted current version holds a single data file
    val cur = java.nio.file.Paths.get(store.currentPath("t").get)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(cur).iterator().asScala
      .count(_.toString.endsWith(".parquet")) shouldBe 1
  }

  test("compactToSize: file count tracks data volume, not commit count") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("cts"), spark)
    // 64 tiny files, as if 64 small streaming commits accreted
    val df = (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(64)
    store.overwrite("t", df)
    val bytes = store.currentBytes("t")
    bytes should be > 0L

    // target sized to yield ~4 output files for this version
    val target = bytes / 4 + 1
    store.compactToSize("t", df.schema, targetBytes = target)
    val cur = java.nio.file.Paths.get(store.currentPath("t").get)
    import scala.jdk.CollectionConverters._
    val nFiles = java.nio.file.Files.list(cur).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    nFiles should be <= 4
    // content unchanged
    store.read("t").count() shouldBe 2000
    store.read("t").agg(sum("id")).head().getLong(0) shouldBe
      (1L to 2000L).sum
  }

  test("stageUpkeep packs a table past its file bound toward one file per core, not into one file") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("upkeep-pack"), spark)
    store.overwrite("t", (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    (100L until 133L).foreach(i => store.append("t", Seq((i, s"a$i")).toDF("id", "v")))
    import scala.jdk.CollectionConverters._
    def files(version: String) = java.nio.file.Files
      .list(java.nio.file.Paths.get(store.root, "t", version)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    val base = store.manifest("t")
    files(base) shouldBe 34 // past the bound of 32 data files

    val packed = store.stageUpkeep("t", base).get
    store.commit(Map("t" -> packed), expect = Map("t" -> Some(base)))
    store.read("t").select("id").as[Long].collect().sorted.toSeq shouldBe (0L until 133L)
    // local[4]: about one file per core, so later scans stay parallel
    files(packed) should (be > 1 and be <= 8)
  }

  test("compactClustered: z-ordered rewrite tightens per-file min/max in both dims") {
    val s = spark
    import s.implicits._
    import graft.operators.Layout
    val store = new TableStore(tmpDir("ccl"), spark)
    val df = (0 until 4096).map(i => (i.toLong, (i % 64).toLong,
        ((i * 37) % 64).toLong)).toDF("id", "x", "y")
      .repartition(16) // arbitrary initial layout
    store.overwrite("t", df)

    store.compactClustered("t", df.schema,
      Layout.zValue(Seq(col("x"), col("y")), bits = 6), numFiles = 16)

    val cur = store.currentPath("t").get
    val stats = Layout.fileStats(spark, cur, Seq("x", "y"))
    // a 16-file z-layout over a 64x64 grid: each file covers ~1/16 of the
    // curve, so BOTH dims' per-file spans stay well under the full range
    val spans = stats.select(
        avg(col("x_max") - col("x_min")).as("sx"),
        avg(col("y_max") - col("y_min")).as("sy"))
      .head()
    spans.getDouble(0) should be < 40.0
    spans.getDouble(1) should be < 40.0
    // rewrite preserved the rows
    store.read("t").agg(sum("id")).head().getLong(0) shouldBe
      (0L until 4096L).sum

    // OPTIMIZE ZORDER on a STATTED table regenerates the sidecar with
    // its own self-described parameters — the rewrite exists to make
    // pruning bite, so the pruned read must skip files afterwards
    // instead of silently degrading to a full scan
    val store2 = new TableStore(tmpDir("ccl2"), spark)
    store2.commit(Map("t" -> store2.stageWithStats("t",
      df, statsCols = Seq("x", "y"), bloomCols = Seq("id"),
      bloomBitsLog2 = 18, bloomK = 2)))
    store2.compactClustered("t", df.schema,
      Layout.zValue(Seq(col("x"), col("y")), bits = 6), numFiles = 16)
    val side = graft.core.FileStats.read(spark,
      store2.currentPath("t").get).get
    side.columns should contain allOf ("min_x", "max_y", "bloom_id")
    side.select("bloom_bits").head().getLong(0) shouldBe (1L << 18)
    side.count() shouldBe 16
    val prunedY = store2.readPrunedRange("t", "y", lit(0L), lit(7L))
    prunedY.inputFiles.length should be < 16
    prunedY.collect().map(_.getLong(0)).sorted shouldBe
      df.filter(col("y").between(0L, 7L)).collect()
        .map(_.getLong(0)).sorted
    // the bloom survives the rewrite too: a ghost id reads zero files
    store2.readPrunedPoint("t", "id", lit(999999L))
      .inputFiles.length shouldBe 0
  }

  test("bucketed versions: partitioning-aware reads, plain-parquet fallback, vacuum drops catalog") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("ts-buck"), spark)
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val ver = store.stageBucketed("bt", df, Seq("k"), 4)
    store.commit(Map("bt" -> ver))

    // catalog-aware read reports the bucket layout: an aggregation on the
    // bucket key needs no Exchange (a bare count disables bucketed reading
    // by design — nothing needs the distribution there)
    val read = store.readOrEmpty("bt", df.schema)
    read.count() shouldBe 100
    val aggPlan = read.groupBy("k").count().queryExecution.executedPlan.toString
    aggPlan should include("SelectedBucketsCount")
    aggPlan should not include "Exchange"

    // simulate a fresh session (catalog entry gone): the bucket spec is
    // persisted beside the data, so the read RE-REGISTERS the external
    // table and the scan still reports its hash partitioning
    val cat = spark.sessionState.catalog.listTables("default")
      .map(_.table).find(_.contains("bt_")).get
    spark.sql(s"DROP TABLE $cat")
    val reread = store.readOrEmpty("bt", df.schema)
    reread.count() shouldBe 100
    reread.orderBy("k").collect().map(_.getLong(0)).take(3) shouldBe Array(1L, 2L, 3L)
    val rereadPlan = reread.groupBy("k").count().queryExecution.executedPlan.toString
    rereadPlan should include("SelectedBucketsCount")
    rereadPlan should not include "Exchange"

    // a superseded bucketed version loses both its files and its entry
    val ver2 = store.stageBucketed("bt", df.filter($"k" <= 10), Seq("k"), 4)
    store.commit(Map("bt" -> ver2))
    store.vacuum()
    store.versions("bt") shouldBe Seq(ver2)
    store.readOrEmpty("bt", df.schema).count() shouldBe 10
  }

  test("EMPTY bucketed version: cross-session re-registration and vacuum never infer from files") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("ts-buck-empty"), spark)
    val df = Seq((1L, "a")).toDF("k", "v")
    val empty = df.filter($"k" < 0)
    val ver = store.stageBucketed("bt", empty, Seq("k"), 4)
    store.commit(Map("bt" -> ver))

    // drop the catalog entry to simulate a fresh session: re-registration
    // must come from the persisted schema DDL (there are NO parquet files
    // to infer from in an empty bucketed version)
    val cat = spark.sessionState.catalog.listTables("default")
      .map(_.table).find(_.contains("bt_")).get
    spark.sql(s"DROP TABLE $cat")
    val reread = store.readOrEmpty("bt", df.schema)
    reread.count() shouldBe 0
    reread.schema.fieldNames.toSeq shouldBe Seq("k", "v")

    // drop again — vacuum of a superseded EMPTY bucketed version must not
    // re-register (pre-fix it inferred the schema and threw)
    val cat2 = spark.sessionState.catalog.listTables("default")
      .map(_.table).find(_.contains("bt_")).get
    spark.sql(s"DROP TABLE $cat2")
    val ver2 = store.stageBucketed("bt", df, Seq("k"), 4)
    store.commit(Map("bt" -> ver2))
    store.vacuum()
    store.versions("bt") shouldBe Seq(ver2)
    store.readOrEmpty("bt", df.schema).count() shouldBe 1
  }

  test("concurrent commits from many threads all land in the manifest") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("ts-conc"), spark)
    val versions = (0 until 16).map { i =>
      i -> store.stage(s"t$i", Seq((i, s"v$i")).toDF("k", "v"))
    }
    // 16 threads race single-table commits; the synchronized read-modify-
    // write plus atomic manifest rename must lose none of them
    val threads = versions.map { case (i, v) =>
      new Thread(() => store.commit(Map(s"t$i" -> v)))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (0 until 16).foreach { i =>
      store.manifest.keySet should contain(s"t$i")
      store.read(s"t$i").count() shouldBe 1
    }
  }

  test("truncate commits an empty version with the right schema") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("ts4"), spark)
    val df = Seq((1, "a")).toDF("id", "v")
    store.overwrite("t", df)
    store.truncate("t", df.schema)
    store.read("t").count() shouldBe 0
    store.readOrEmpty("t", df.schema).schema.fieldNames.toSeq shouldBe Seq("id", "v")
  }

  test("DROP/UNDROP: metadata-only drop, byte-identical restore, retention " +
      "vacuum makes the restore refuse") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("undrop"), spark)
    store.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    store.overwrite("t", Seq((2L, "b")).toDF("id", "v")) // prior history too
    store.upsertMoR("t", Seq((2L, "B")).toDF("id", "v"), Seq("id"),
      tag = Some("7")) // sidecars must survive the round trip
    val expect = store.read("t").as[(Long, String)].collect().toSeq

    store.dropTable("t")
    store.exists("t") shouldBe false
    an[IllegalStateException] should be thrownBy store.read("t")
    an[IllegalStateException] should be thrownBy store.dropTable("t")

    store.undropTable("t")
    store.read("t").as[(Long, String)].collect().toSeq shouldBe expect
    store.versionTag("t") shouldBe Some("7") // sidecar intact
    an[IllegalArgumentException] should be thrownBy store.undropTable("t")

    // retention purge: dropped versions are history — vacuum(0) sweeps
    // them and the restore refuses instead of resurrecting nothing
    store.dropTable("t")
    store.vacuum(retain = 0)
    an[IllegalStateException] should be thrownBy store.undropTable("t")
    // and a retention-friendly vacuum keeps the restore alive
    store.overwrite("u", Seq((1L, "x")).toDF("id", "v"))
    store.dropTable("u")
    store.vacuum(retain = 2)
    store.undropTable("u")
    store.read("u").as[(Long, String)].collect().toSeq shouldBe Seq((1L, "x"))
  }

  test("RESTORE: rollback to an earlier version as a new commit — content " +
      "and sidecars rewound, mistake kept in history, refusals loud") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("restore"), spark)
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v1 = store.manifest("t")
    // a tagged MoR upsert: v2 carries a DV + tag sidecar
    store.upsertMoR("t", Seq((2L, "B"), (3L, "c")).toDF("id", "v"),
      Seq("id"), tag = Some("42"))
    val v2 = store.manifest("t")
    val v2Content = store.read("t").as[(Long, String)].collect().toSet
    store.overwrite("t", Seq((9L, "z")).toDF("id", "v")) // the bad batch
    val v3 = store.manifest("t")

    // restore to v2: content, tombstones, and the version tag all rewind
    store.restoreTable("t", v2)
    store.read("t").as[(Long, String)].collect().toSet shouldBe v2Content
    store.versionTag("t") shouldBe Some("42")
    // the restore is a NEW commit: v3 (the mistake) joined history, the
    // restored current is a fresh version, v2 stays a time-travel target
    val hist = store.committedVersions("t")
    hist should contain allOf (v1, v2, v3)
    store.manifest("t") should not be v2
    store.readVersion("t", v3, store.read("t").schema)
      .as[(Long, String)].collect().toSeq shouldBe Seq((9L, "z"))

    // refusals: current version, never-committed garbage, missing table
    an[IllegalArgumentException] should be thrownBy
      store.restoreTable("t", store.manifest("t"))
    an[IllegalStateException] should be thrownBy
      store.restoreTable("t", "never-committed")
    an[IllegalStateException] should be thrownBy
      store.restoreTable("ghost", v1)

    // a hard vacuum sweeps superseded versions: the restore refuses
    // instead of resurrecting reclaimed bytes
    store.vacuum(retain = 0)
    an[IllegalStateException] should be thrownBy store.restoreTable("t", v1)

    // bucketed versions restore through the materializing fallback —
    // INCLUDING the version tag (a streaming sink's high-water mark must
    // rewind with the rows; the tag is planted file-level because
    // bucketed versions acquire tags only through the sink path)
    store.commit(Map("bk" -> store.stageBucketed("bk",
      Seq((1L, "x")).toDF("id", "v"), Seq("id"), 4)))
    val bv1 = store.manifest("bk")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(store.currentPath("bk").get, "_graft_tag"),
      "17".getBytes("UTF-8"))
    store.commit(Map("bk" -> store.stageBucketed("bk",
      Seq((2L, "y")).toDF("id", "v"), Seq("id"), 4)))
    store.restoreTable("bk", bv1)
    store.read("bk").as[(Long, String)].collect().toSeq shouldBe Seq((1L, "x"))
    store.versionTag("bk") shouldBe Some("17")
  }

  test("schema evolution: add-column append carries old files, null-fills " +
      "old rows, and only ADDITIVE changes are accepted") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("evo"), spark)
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val gen1Files = new java.io.File(store.currentPath("t").get)
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

    store.appendEvolved("t",
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "v", "extra"))
    val out = store.read("t").orderBy("id")
      .as[(Long, String, Option[Long])].collect().toSeq
    out shouldBe Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30L)), (4L, "d", Some(40L)))
    store.read("t").schema("extra").nullable shouldBe true
    // gen-1 files carried by link, not rewritten
    val gen2Files = new java.io.File(store.currentPath("t").get)
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    gen1Files.subsetOf(gen2Files) shouldBe true

    // refusals: dropped column, retyped column
    an[IllegalArgumentException] should be thrownBy
      store.appendEvolved("t", Seq((9L, 1L)).toDF("id", "extra"))
    an[IllegalArgumentException] should be thrownBy
      store.appendEvolved("t", Seq((9L, "z", "not-a-long")).toDF("id", "v", "extra"))
    // bucketed layout refuses
    store.commit(Map("tb" -> store.stageBucketed("tb",
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), 2)))
    an[IllegalArgumentException] should be thrownBy
      store.appendEvolved("tb", Seq((2L, "b", 1L)).toDF("id", "v", "extra"))
  }

  test("schema evolution composes with MoR deletes, upserts, compaction, " +
      "clone, CDF, and time travel") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("evo2"), spark)
    store.overwrite("t", (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    val preEvoV = store.manifest("t")
    store.appendEvolved("t",
      Seq((7L, "v7", 70L), (8L, "v8", 80L)).toDF("id", "v", "extra"))

    // MoR delete of a GEN-1 row: tombstone applies across the mixed read
    store.deleteWhereMoR("t", col("id") === 2L) shouldBe 1L
    store.read("t").count() shouldBe 7L
    // upsert touching both generations; declared schema survives the DML
    store.upsertMoR("t",
      Seq((1L, "V1", 10L), (9L, "v9", 90L)).toDF("id", "v", "extra"),
      Seq("id"))
    val afterUpsert = store.read("t").orderBy("id")
      .as[(Long, String, Option[Long])].collect().toSeq
    afterUpsert.head shouldBe (1L, "V1", Some(10L))
    afterUpsert.map(_._1) shouldBe Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L)
    afterUpsert.find(_._1 == 3L).get._3 shouldBe None

    // purge + small-file compaction pack the mixed generations losslessly
    store.purgeDeletes("t")
    val before = store.read("t").orderBy("id")
      .as[(Long, String, Option[Long])].collect().toSeq
    store.compactSmallFiles("t", targetBytes = 10L << 20, minSmallFiles = 2)
    store.read("t").orderBy("id")
      .as[(Long, String, Option[Long])].collect().toSeq shouldBe before

    // zero-copy clone of the evolved table reads identically
    store.cloneTable("t", "t2")
    store.read("t2").orderBy("id")
      .as[(Long, String, Option[Long])].collect().toSeq shouldBe before

    // time travel: the pre-evolution version still reads its own shape
    store.readVersion("t", preEvoV,
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING"))
      .count() shouldBe 6L
  }

  test("cross-generation purge and range delete rewrite under the UNION " +
      "schema — gen-2 values survive a rewrite that also touches gen-1 files") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("evo4"), spark)
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    store.appendEvolved("t", Seq((3L, "c", 30L), (4L, "d", 40L))
      .toDF("id", "v", "extra"))
    // tombstone one row in EACH generation, then purge: the rewrite
    // reads a mixed-generation file subset in one scan — pre-fix it
    // sampled one file's schema and could silently drop gen-2's extra
    store.deleteWhereMoR("t", col("id").isin(1L, 4L)) shouldBe 2L
    store.purgeDeletes("t") shouldBe 2L
    store.read("t").orderBy("id").as[(Long, String, Option[Long])]
      .collect().toSeq shouldBe Seq((2L, "b", None), (3L, "c", Some(30L)))
  }

  test("schema evolution drops the stats sidecar; pruned reads degrade to " +
      "correct full scans and CDF null-fills the added column") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("evo3"), spark)
    val v0 = store.stageWithStats("t",
      (1L to 100L).map(i => (i, i * 2)).toDF("id", "x").repartition(4),
      statsCols = Seq("id"))
    store.commit(Map("t" -> v0))
    FileStats.read(spark, store.currentPath("t").get).isDefined shouldBe true
    val fromV = store.manifest("t")

    store.appendEvolved("t",
      Seq((101L, 202L, "tag101")).toDF("id", "x", "label"))
    // sidecar gone; pruned read = correct full-scan fallback
    FileStats.read(spark, store.currentPath("t").get).isDefined shouldBe false
    store.readPrunedRange("t", "id", lit(10L), lit(12L))
      .orderBy("id").select("id").as[Long].collect().toSeq shouldBe
      Seq(10L, 11L, 12L)
    store.readPrunedRange("t", "id", lit(101L), lit(101L))
      .select("label").as[String].collect().toSeq shouldBe Seq("tag101")

    // change data feed across the evolution: one insert, schema-unioned
    val cdf = store.changesBetween("t", fromV, store.manifest("t"))
    cdf.count() shouldBe 1L
    cdf.select("id", "label").as[(Long, String)].collect().toSeq shouldBe
      Seq((101L, "tag101"))
  }
}
