package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Merge-on-read deletion vectors ([[DeleteVectors]],
  * [[TableStore.deleteWhereMoR]], [[TableStore.purgeDeletes]]) and the
  * metadata-only aggregate ([[TableStore.statsAgg]]).
  *
  * The scale contracts under test:
  *  - a MoR delete rewrites ZERO data bytes (files carried verbatim,
  *    byte-identical) — the 100 TB property;
  *  - every read path (plain, pruned, time travel, fallback DML)
  *    applies the tombstones — deleted rows never resurrect;
  *  - purge rewrites ONLY the files the DV names;
  *  - statsAgg answers from the sidecar alone (zero data-file I/O)
  *    and falls back — same values — when tombstones make per-file
  *    counts stale.
  */
class DeleteVectorsSpec extends AnyFunSuite with Matchers with SparkSpec {

  import org.apache.spark.sql.functions._

  /** Top-level parquet data files of a version dir: (name, size). */
  private def dataFiles(dir: String): Map[String, Long] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> Files.size(p)).toMap

  private def ids(store: TableStore, t: String): Seq[Long] =
    store.read(t).select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("MoR delete: content filtered, zero data bytes rewritten, O(deleted) sidecar") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv"), spark)
    store.overwrite("t",
      (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4))
    val before = store.currentPath("t").get
    val beforeFiles = dataFiles(before)
    beforeFiles.size shouldBe 4

    store.deleteWhereMoR("t", col("id") % 10 === 0) shouldBe 100L

    val after = store.currentPath("t").get
    after should not be before
    // every data file carried verbatim: same names, same sizes
    dataFiles(after) shouldBe beforeFiles
    DeleteVectors.exists(after) shouldBe true
    ids(store, "t") shouldBe (0L until 1000L).filter(_ % 10 != 0)
    // the prior version is untouched (time travel / pinned readers)
    DeleteVectors.exists(before) shouldBe false
  }

  test("repeated MoR deletes accumulate into one DV without re-recording") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-acc"), spark)
    store.overwrite("t",
      (0L until 1000L).map(i => (i, i % 7)).toDF("id", "grp").repartition(4))

    store.deleteWhereMoR("t", col("id") % 10 === 0) shouldBe 100L
    // overlaps the first delete: ids %5==0 minus the %10==0 already gone
    store.deleteWhereMoR("t", col("id") % 5 === 0) shouldBe 100L
    // no-op delete commits nothing
    val v = store.currentPath("t").get
    store.deleteWhereMoR("t", col("id") === -1L) shouldBe 0L
    store.currentPath("t").get shouldBe v

    val dv = DeleteVectors.read(spark, v).get
    dv.count() shouldBe 200L // disjoint union, nothing double-recorded
    dv.select("file", "pos").distinct().count() shouldBe 200L
    ids(store, "t") shouldBe (0L until 1000L).filter(_ % 5 != 0)
  }

  test("MoR delete predicate is null-safe: null rows survive") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-null"), spark)
    store.overwrite("t",
      Seq((1L, Some(10.0)), (2L, None), (3L, Some(3.0)), (4L, Some(20.0)))
        .toDF("id", "price"))
    store.deleteWhereMoR("t", col("price") > 5.0) shouldBe 2L
    ids(store, "t") shouldBe Seq(2L, 3L) // NULL price never matches
  }

  test("purge rewrites only the DV'd files; carried files stay byte-identical") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-purge"), spark)
    // id-clustered: the delete's matches concentrate in the top range file
    val df = (0L until 1000L).map(i => (i, i % 3)).toDF("id", "grp")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    store.commit(Map("t" -> store.stageWithStats("t", df, Seq("id"))))

    store.deleteWhereMoR("t", col("id") >= 900L) shouldBe 100L
    val dvDir = store.currentPath("t").get
    val dvFiles = DeleteVectors.read(spark, dvDir).get
      .select("file").distinct().collect().map(_.getString(0)).toSet
    val carried = dataFiles(dvDir) -- dvFiles
    dvFiles should not be empty
    carried should not be empty // clustering kept most files clean

    store.purgeDeletes("t") shouldBe 100L
    val purged = store.currentPath("t").get
    DeleteVectors.exists(purged) shouldBe false
    val after = dataFiles(purged)
    // untouched files carried verbatim; the DV'd names are gone
    carried.foreach { case (name, size) => after.get(name) shouldBe Some(size) }
    dvFiles.foreach(name => after.contains(name) shouldBe false)
    ids(store, "t") shouldBe (0L until 900L)
    // the carried stats sidecar still prunes and never resurrects rows
    store.readPrunedRange("t", "id", lit(850L), lit(950L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (850L until 900L)
    // purging a DV-free table is a no-op
    store.purgeDeletes("t") shouldBe 0L
  }

  test("every read path applies the DV: pruned scans, time travel, fallback DML") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-paths"), spark)
    val df = (0L until 1000L).map(i => (i, i % 5)).toDF("id", "grp")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    store.commit(Map("t" -> store.stageWithStats("t", df, Seq("id"))))
    val v0 = store.committedVersions("t").last

    store.deleteWhereMoR("t", col("id") % 4 === 0) shouldBe 250L
    val vDv = store.committedVersions("t").last

    // pruned range scan on the DV'd version: skipping composes with
    // tombstones (the delete scatters across every file, so the DV —
    // not the zone maps — is what must hide the rows)
    store.readPrunedRange("t", "id", lit(100L), lit(120L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (100L to 120L).filter(_ % 4 != 0)

    // time travel: the pre-delete version reads full, the DV'd version
    // reads its tombstones
    val schema = store.read("t").schema
    store.readVersion("t", v0, schema).count() shouldBe 1000L
    store.readVersion("t", vDv, schema).count() shouldBe 750L

    // range DML on a DV'd version falls back to a DV-aware rewrite:
    // no resurrection of MoR-deleted rows in the overlapping range
    store.deleteRange("t", "id", lit(500L), lit(599L)) shouldBe 75L
    DeleteVectors.exists(store.currentPath("t").get) shouldBe false
    ids(store, "t") shouldBe
      (0L until 1000L).filter(i => i % 4 != 0 && (i < 500L || i > 599L))
  }

  test("MoR falls back to copy-on-write for layouts its flat carry can't model") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-hive"), spark)
    val df = (0L until 100L).map(i => (i, (i % 3).toString)).toDF("id", "part")
    store.commit(Map("t" -> store.stage("t", df, partitionBy = Seq("part"))))
    store.deleteWhereMoR("t", col("id") < 10L) shouldBe 10L
    DeleteVectors.exists(store.currentPath("t").get) shouldBe false
    ids(store, "t") shouldBe (10L until 100L)
  }

  test("MoR upsert: matched rows tombstoned, updates appended, carried bytes untouched") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-upsert"), spark)
    store.overwrite("t",
      (0L until 100L).map(i => (i, s"old$i")).toDF("id", "v").repartition(4))
    val before = store.currentPath("t").get
    val beforeFiles = dataFiles(before)

    // 10 updates of existing keys + 5 inserts of fresh keys
    val batch = ((0L until 100L by 10L).map(i => (i, s"new$i")) ++
      (200L until 205L).map(i => (i, s"ins$i"))).toDF("id", "v")
    store.upsertMoR("t", batch, Seq("id")) shouldBe 10L

    val after = store.currentPath("t").get
    val afterFiles = dataFiles(after)
    // every original file carried byte-identical; appended files are new
    beforeFiles.foreach { case (n, sz) => afterFiles.get(n) shouldBe Some(sz) }
    (afterFiles.keySet -- beforeFiles.keySet) should not be empty
    DeleteVectors.read(spark, after).get.count() shouldBe 10L

    val got = store.read("t").as[(Long, String)].collect().toMap
    got.size shouldBe 105
    got(5L) shouldBe "old5"   // unmatched survives
    got(10L) shouldBe "new10" // matched replaced
    got(202L) shouldBe "ins202" // insert present

    // purge materializes upsert tombstones too
    store.purgeDeletes("t") shouldBe 10L
    DeleteVectors.exists(store.currentPath("t").get) shouldBe false
    store.read("t").as[(Long, String)].collect().toMap shouldBe got
  }

  test("MoR upsert composes with prior MoR deletes and pure inserts leave no DV") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-upsert2"), spark)
    store.overwrite("t",
      (0L until 100L).map(i => (i, i.toString)).toDF("id", "v").repartition(2))

    // pure insert on a DV-free table: no sidecar, no read tax
    store.upsertMoR("t", Seq((100L, "i100")).toDF("id", "v"), Seq("id")) shouldBe 0L
    DeleteVectors.exists(store.currentPath("t").get) shouldBe false

    store.deleteWhereMoR("t", col("id") < 10L) shouldBe 10L
    // upserting a key the delete already tombstoned records nothing new
    // for it (the key no longer exists → it inserts)
    store.upsertMoR("t",
      Seq((5L, "back5"), (50L, "new50")).toDF("id", "v"), Seq("id")) shouldBe 1L
    val dv = DeleteVectors.read(spark, store.currentPath("t").get).get
    dv.count() shouldBe 11L // 10 deleted + 1 replaced, nothing doubled
    val got = store.read("t").as[(Long, String)].collect().toMap
    got.size shouldBe 92 // 100 - 10 + i100 + back5; 50 replaced in place
    got(5L) shouldBe "back5"
    got(50L) shouldBe "new50"
    got.contains(3L) shouldBe false
  }

  test("changesBetween: O(changed files) CDF across a MoR delete/upsert chain") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-cdf"), spark)
    store.overwrite("t",
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4))
    val v0 = store.committedVersions("t").last

    store.deleteWhereMoR("t", col("id") < 10L) shouldBe 10L
    val v1 = store.committedVersions("t").last
    // delete-only span: pure DELETE rows, exactly the tombstoned ones
    val d01 = store.changesBetween("t", v0, v1)
    d01.filter(col("_action") =!= "DELETE").count() shouldBe 0L
    d01.select("id").as[Long].collect().sorted.toSeq shouldBe (0L until 10L)

    // upsert: 5 replaced, 3 inserted
    store.upsertMoR("t",
      ((20L until 25L).map(i => (i, s"new$i")) ++
        (200L until 203L).map(i => (i, s"ins$i"))).toDF("id", "v"),
      Seq("id")) shouldBe 5L
    val v2 = store.committedVersions("t").last
    val d12 = store.changesBetween("t", v1, v2)
    d12.filter(col("_action") === "DELETE").select("id").as[Long]
      .collect().sorted.toSeq shouldBe (20L until 25L)
    d12.filter(col("_action") === "INSERT").as[(Long, String, String)]
      .collect().map(r => (r._1, r._2)).sorted.toSeq shouldBe
      ((20L until 25L).map(i => (i, s"new$i")) ++
        (200L until 203L).map(i => (i, s"ins$i")))

    // cumulative span v0 -> v2, and net-out: delete an id INSERTED
    // within the span — it must vanish from the v1 -> v3 feed entirely
    store.deleteWhereMoR("t", col("id") === 201L) shouldBe 1L
    val v3 = store.committedVersions("t").last
    val d13 = store.changesBetween("t", v1, v3)
    d13.filter(col("id") === 201L).count() shouldBe 0L // netted out
    d13.filter(col("_action") === "DELETE").select("id").as[Long]
      .collect().sorted.toSeq shouldBe (20L until 25L)
    val d03 = store.changesBetween("t", v0, v3)
    d03.filter(col("_action") === "DELETE").select("id").as[Long]
      .collect().sorted.toSeq shouldBe ((0L until 10L) ++ (20L until 25L))

    // identity span: no changes
    store.changesBetween("t", v2, v2).count() shouldBe 0L

    // applying the feed to the old snapshot reproduces the new one
    val before = store.readVersion("t", v0, store.read("t").schema)
    val replayed = before.join(
        d03.filter(col("_action") === "DELETE").select("id"), Seq("id"),
        "left_anti")
      .unionByName(d03.filter(col("_action") === "INSERT").drop("_action"))
    replayed.as[(Long, String)].collect().sorted.toSeq shouldBe
      store.read("t").as[(Long, String)].collect().sorted.toSeq

    // a purge breaks file identity: the feed refuses and names the
    // honest alternative instead of silently mis-diffing
    store.purgeDeletes("t")
    val v4 = store.committedVersions("t").last
    val ex = intercept[IllegalArgumentException] {
      store.changesBetween("t", v0, v4)
    }
    ex.getMessage should include("SnapshotCdc")
  }

  test("streaming MoR sink: exactly-once effect via version tags, carry through maintenance") {
    val s = spark
    import s.implicits._
    import graft.streaming.StoreStream
    val base = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val slices = Seq(
      Seq((0L, "a0"), (10L, "a10"), (200L, "a200")).toDF("id", "v"),
      Seq((10L, "b10"), (20L, "b20")).toDF("id", "v"),
      Seq((20L, "c20"), (201L, "c201")).toDF("id", "v"))
    val store = StoreStream.upsertReplay(spark, base, slices, Seq("id"),
      tmpDir("dv-stream"), "t")

    // batch last-wins merge, across three stop/start cycles
    val got = store.read("t").as[(Long, String)].collect().toMap
    got.size shouldBe 102
    got(0L) shouldBe "a0"
    got(10L) shouldBe "b10"  // slice 2 overwrote slice 1
    got(20L) shouldBe "c20"  // slice 3 overwrote slice 2
    got(201L) shouldBe "c201"
    got(5L) shouldBe "v5"
    store.versionTag("t") shouldBe Some("2") // applied high-water mark

    // redelivery of an applied batch (crash after commit, before the
    // stream checkpoint advanced): skipped, content untouched
    StoreStream.upsertBatch(store, "t", Seq("id"))(
      Seq((0L, "GHOST")).toDF("id", "v"), 2L) shouldBe false
    store.read("t").as[(Long, String)].collect().toMap shouldBe got

    // maintenance DML between batches carries the high-water mark
    store.purgeDeletes("t") should be > 0L
    store.versionTag("t") shouldBe Some("2")
    store.deleteWhereMoR("t", col("id") === 5L) shouldBe 1L
    store.versionTag("t") shouldBe Some("2")

    // the next genuine batch still applies after maintenance
    StoreStream.upsertBatch(store, "t", Seq("id"))(
      Seq((0L, "d0")).toDF("id", "v"), 3L) shouldBe true
    store.versionTag("t") shouldBe Some("3")
    store.read("t").as[(Long, String)].collect().toMap.apply(0L) shouldBe "d0"
  }

  test("streaming cluster sink: exactly-once fold, crash-retry with " +
      "half-applied bands converges, redelivery skips") {
    val s = spark
    import s.implicits._
    import graft.streaming.StoreStream
    import graft.operators.Dedup
    val mk = (id: Long, t: String) => (id, t)
    val dup = "the exact same sentence repeated for deduplication purposes here"
    val base = Seq(mk(1L, dup), mk(2L, dup),
      mk(3L, "completely different content with no shared shingles at all"))
      .toDF("doc_id", "text")
    val slices = Seq(
      Seq(mk(10L, dup)).toDF("doc_id", "text"), // joins cluster {1,2}
      // resends doc 10 byte-identically AND adds a new singleton
      Seq(mk(10L, dup), mk(11L, "another wholly unrelated sentence of fresh tokens"))
        .toDF("doc_id", "text"))
    val store = StoreStream.clusterReplay(spark, base, slices,
      tmpDir("clust-stream"))
    val got = store.read("assign").as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 10L -> 1L, 11L -> 11L)
    store.versionTag("assign") shouldBe Some("1")
    // incremental ≡ full recompute over everything streamed
    val full = Dedup.clustersFromBands(store.read("bands"))
      .as[(Long, Long)].collect().toMap
    got shouldBe full

    // redelivery at the high-water mark: skipped, content untouched
    StoreStream.clusterBatch(store, "bands", "assign")(
      Seq(mk(10L, dup)).toDF("doc_id", "text"), 1L) shouldBe false
    store.read("assign").as[(Long, Long)].collect().toMap shouldBe got

    // crash-retry state: the bands commit landed, the assignment didn't
    // (the only possible half-state — commit order). Pre-planting the
    // batch's bands then folding must converge to the same answer the
    // clean fold gives: the delta dedups the store∪probe union.
    val crashBatch = Seq(mk(12L, dup)).toDF("doc_id", "text")
    store.upsertMoR("bands",
      Dedup.minhashBandTable(crashBatch, portable = true), Seq("band", "id"))
    StoreStream.clusterBatch(store, "bands", "assign")(
      crashBatch, 2L) shouldBe true
    val after = store.read("assign").as[(Long, Long)].collect().toMap
    after(12L) shouldBe 1L
    after shouldBe Dedup.clustersFromBands(store.read("bands"))
      .as[(Long, Long)].collect().toMap
  }

  test("carries hard-link when the fs allows: no data bytes duplicated") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-link"), spark)
    store.overwrite("t",
      (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4))
    val before = store.currentPath("t").get
    store.deleteWhereMoR("t", col("id") % 10 === 0) shouldBe 100L
    val after = store.currentPath("t").get
    // same inode ⇒ the carry moved metadata, not bytes (local tmpfs
    // supports hard links; the copy fallback is for fs that don't)
    val name = dataFiles(before).keys.head
    val inode = (p: String) => Files.getAttribute(
      Paths.get(p, name), "unix:ino")
    inode(after) shouldBe inode(before)
  }

  test("zero-copy clone: hard-linked data, carried sidecars, free divergence") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-clone"), spark)
    val df = (0L until 1000L).map(i => (i, i.toDouble)).toDF("id", "price")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    store.commit(Map("t" -> store.stageWithStats("t", df, Seq("id"))))
    store.deleteWhereMoR("t", col("id") % 10 === 0) shouldBe 100L

    store.cloneTable("t", "c")
    // clone reads what the DV'd source read: tombstones carried
    ids(store, "c") shouldBe (0L until 1000L).filter(_ % 10 != 0)
    // zero-copy: same inode for every data file
    val srcDir = store.currentPath("t").get
    val cloneDir = store.currentPath("c").get
    val ino = (d: String, n: String) =>
      Files.getAttribute(Paths.get(d, n), "unix:ino")
    dataFiles(srcDir).keys.foreach(n => ino(cloneDir, n) shouldBe ino(srcDir, n))
    // carried stats still prune on the clone
    store.readPrunedRange("c", "id", lit(100L), lit(110L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (100L to 110L).filter(_ % 10 != 0)

    // divergence is free both ways: DML on either side is invisible
    // to the other
    store.deleteWhereMoR("c", col("id") < 500L) shouldBe 450L
    store.upsertMoR("t", Seq((5000L, 5000.0)).toDF("id", "price"),
      Seq("id")) shouldBe 0L
    ids(store, "c") shouldBe (500L until 1000L).filter(_ % 10 != 0)
    ids(store, "t") shouldBe
      ((0L until 1000L).filter(_ % 10 != 0) :+ 5000L)

    // overwriting + vacuuming the SOURCE cannot break the clone: links
    // keep the shared bytes alive until the last reference drops
    store.overwrite("t", Seq((1L, 1.0)).toDF("id", "price"))
    store.vacuum()
    ids(store, "c") shouldBe (500L until 1000L).filter(_ % 10 != 0)

    // cloning onto an existing name refuses
    intercept[IllegalArgumentException] { store.cloneTable("t", "c") }
  }

  test("statsAgg answers from the sidecar alone — zero data-file I/O") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-stats"), spark)
    val df = Seq((1L, Some(10.0)), (2L, None), (3L, Some(-4.5)), (4L, Some(99.0)),
        (5L, Some(7.0)), (6L, None)).toDF("id", "price").repartition(3)
    store.commit(Map("t" -> store.stageWithStats("t", df, Seq("id", "price"))))

    val agg = store.statsAgg("t", Seq("id", "price"))
    // the plan touches ONLY the sidecar parquet, never a data file
    agg.inputFiles should not be empty
    all(agg.inputFiles.toSeq) should include(FileStats.StatsDir)
    val r = agg.head()
    r.getLong(0) shouldBe 6L            // n_rows
    r.getLong(1) shouldBe 1L            // min_id
    r.getLong(2) shouldBe 6L            // max_id
    r.getLong(3) shouldBe 6L            // cnt_id
    r.getDouble(4) shouldBe -4.5        // min_price
    r.getDouble(5) shouldBe 99.0        // max_price
    r.getLong(6) shouldBe 4L            // cnt_price (nulls excluded)

    // a version whose sidecar lacks one requested column → data-scan
    // fallback: same columns, same values, paid in I/O
    val store2 = new TableStore(tmpDir("dv-stats-fb"), spark)
    store2.commit(Map("t" -> store2.stageWithStats("t", df, Seq("id"))))
    val fb = store2.statsAgg("t", Seq("id", "price"))
    atLeast(1, fb.inputFiles.toSeq) should not include FileStats.StatsDir
    val fr = fb.head()
    fr.getLong(0) shouldBe 6L
    fr.getDouble(4) shouldBe -4.5
    fr.getLong(6) shouldBe 4L
  }

  test("statsAgg on a DV'd version falls back — tombstones make file counts stale") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-stats-mor"), spark)
    val df = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "price")
      .repartition(4)
    store.commit(Map("t" -> store.stageWithStats("t", df, Seq("price"))))

    // delete the row holding the global max: a sidecar answer would
    // report the stale 100.0
    store.deleteWhereMoR("t", col("price") >= 99.0) shouldBe 2L
    val agg = store.statsAgg("t", Seq("price"))
    atLeast(1, agg.inputFiles.toSeq) should not include FileStats.StatsDir
    val r = agg.head()
    r.getLong(0) shouldBe 98L
    r.getDouble(2) shouldBe 98.0 // max_price sees the deletion

    // purge returns statsAgg to... the rewritten sidecar is fresh, so
    // the metadata answer is live again and agrees with the data
    store.purgeDeletes("t") shouldBe 2L
    val agg2 = store.statsAgg("t", Seq("price"))
    all(agg2.inputFiles.toSeq) should include(FileStats.StatsDir)
    val r2 = agg2.head()
    r2.getLong(0) shouldBe 98L
    r2.getDouble(2) shouldBe 98.0
  }

  test("EVERY maintenance path carries the streaming high-water tag: " +
      "deleteRange, deleteWhere, compact, compactClustered") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-tagcarry"), spark)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    store.commit(Map("t" -> store.stageWithStats("t",
      (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartitionByRange(10, col("id")).sortWithinPartitions("id"),
      Seq("id"))))
    // the sink's applied-batch high-water mark lands via a tagged upsert
    store.upsertMoR("t", Seq((0L, "u0")).toDF("id", "v"), Seq("id"),
      tag = Some("7")) shouldBe 1L
    store.versionTag("t") shouldBe Some("7")
    // fold the upsert's tombstone in so deleteRange takes its SURGICAL
    // path below (a DV'd version falls back to deleteWhere by design)
    store.purgeDeletes("t") shouldBe 1L
    store.versionTag("t") shouldBe Some("7")

    // surgical range delete (the retention-sweep shape the ADVICE
    // flagged: interleaved with micro-batches it must not erase the tag)
    store.deleteRange("t", "id", lit(100L), lit(199L)) shouldBe 100L
    store.versionTag("t") shouldBe Some("7")
    // copy-on-write fallback delete
    store.deleteWhere("t", col("id") === 5L) shouldBe 1L
    store.versionTag("t") shouldBe Some("7")
    // scheduled OPTIMIZE between batches
    store.compact("t", schema, numFiles = 2)
    store.versionTag("t") shouldBe Some("7")
    store.compactClustered("t", schema, col("id"), numFiles = 2)
    store.versionTag("t") shouldBe Some("7")

    // and a redelivered batch at/below the mark still skips after all
    // that maintenance
    graft.streaming.StoreStream.upsertBatch(store, "t", Seq("id"))(
      Seq((0L, "GHOST")).toDF("id", "v"), 7L) shouldBe false
    store.read("t").filter(col("id") === 0L).select("v")
      .head().getString(0) shouldBe "u0"
  }

  test("a foreign non-numeric tag degrades gracefully: the sink applies " +
      "and re-tags instead of wedging on NumberFormatException") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-foreigntag"), spark)
    store.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    store.upsertMoR("t", Seq((1L, "b")).toDF("id", "v"), Seq("id"),
      tag = Some("not-a-number")) shouldBe 1L
    graft.streaming.StoreStream.upsertBatch(store, "t", Seq("id"))(
      Seq((1L, "c")).toDF("id", "v"), 0L) shouldBe true
    store.versionTag("t") shouldBe Some("0")
    store.read("t").select("v").head().getString(0) shouldBe "c"
  }

  test("compactSmallFiles: bin-packs only the small files, carries big " +
      "ones by hard link, applies/keeps tombstones per side, carries tag") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-binpack"), spark)
    // one BIG file (10k rows) + trickle of small per-batch files
    store.commit(Map("t" -> store.stageWithStats("t",
      (0L until 10000L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      Seq("id"))))
    val bigName = dataFiles(store.currentPath("t").get).keys.head
    (0 until 6).foreach { i =>
      store.upsertMoR("t",
        Seq((10000L + i, s"n$i"), (i.toLong, s"u$i")).toDF("id", "v")
          .coalesce(1),
        Seq("id"), tag = Some(i.toString))
    }
    // 6 appended small files + the big one; a DV naming the big file
    val preDir = store.currentPath("t").get
    dataFiles(preDir).size shouldBe 7
    DeleteVectors.exists(preDir) shouldBe true

    val packed = store.compactSmallFiles("t", targetBytes = 32L << 10,
      minSmallFiles = 4)
    packed shouldBe 6
    val dir = store.currentPath("t").get
    val files = dataFiles(dir)
    // 6 small files → 1 packed file; the big file carried by inode
    files.size shouldBe 2
    val ino = (d: String, n: String) =>
      Files.getAttribute(Paths.get(d, n), "unix:ino")
    ino(dir, bigName) shouldBe ino(preDir, bigName)
    // tombstones of the CARRIED big file survive; rewritten files
    // materialized theirs — content is exactly the post-upsert state
    DeleteVectors.exists(dir) shouldBe true
    store.read("t").count() shouldBe 10006L
    store.read("t").filter(col("id") < 6L).select("v")
      .collect().map(_.getString(0)).sorted.toSeq shouldBe
      (0 until 6).map(i => s"u$i")
    // stats sidecar carried + recomputed: range pruning still exact
    store.readPrunedRange("t", "id", lit(10000L), lit(10005L))
      .count() shouldBe 6L
    // the exactly-once high-water mark survived the OPTIMIZE
    store.versionTag("t") shouldBe Some("5")
    // under the threshold: no-op, nothing committed
    val v = store.currentPath("t").get
    store.compactSmallFiles("t", targetBytes = 32L << 10) shouldBe 0
    store.currentPath("t").get shouldBe v
  }

  test("maintained streaming sink: file count and DV stay bounded over " +
      "many micro-batches, content still exactly-once") {
    val s = spark
    import s.implicits._
    import graft.streaming.StoreStream
    val base = (0L until 500L).map(i => (i, "base")).toDF("id", "v")
    // 20 micro-batches; batch i updates ids [10*i, 10*i+14] — overlaps
    // its neighbor so later batches tombstone earlier batches' appends
    val slices = (0 until 20).map(i =>
      (10L * i until 10L * i + 15L).map(k => (k, s"b$i")).toDF("id", "v"))
    val store = StoreStream.upsertReplay(spark, base, slices, Seq("id"),
      tmpDir("dv-maint"), "t",
      maintainEvery = 4, targetBytes = 1L << 20, filesPerCycle = 5)

    // last-wins closed form: id belongs to the HIGHEST batch whose
    // window contains it
    val expect = (0L until 500L).map { id =>
      val owners = (0 until 20).filter(i => id >= 10L * i && id < 10L * i + 15L)
      id -> (if (owners.isEmpty) "base" else s"b${owners.max}")
    }.toMap
    store.read("t").as[(Long, String)].collect().toMap shouldBe expect
    store.versionTag("t") shouldBe Some("19")

    // the long-run bound: 20 batches would leave 21+ files and a fat DV
    // without maintenance; the cadence keeps both O(work since last tick)
    val dir = store.currentPath("t").get
    dataFiles(dir).size should be <= 6
    DeleteVectors.read(spark, dir).map(_.count()).getOrElse(0L) should be <= 60L
  }

  test("composition matrix: pruned scan × DV × time travel × clone all " +
      "interact correctly on ONE table") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-matrix"), spark)
    val df = (0L until 2000L).map(i => (i, i * 3L)).toDF("id", "key")
      .repartitionByRange(10, col("id")).sortWithinPartitions("id")
    store.commit(Map("t" -> store.stageWithStats("t", df,
      statsCols = Seq("id"), bloomCols = Seq("key"))))
    val v0 = store.manifest("t")
    val schema = store.read("t").schema

    // DV the statted source, then CLONE the DV'd + statted table
    store.deleteWhereMoR("t", col("id") % 10 === 0L) shouldBe 200L
    store.cloneTable("t", "c")

    // 1. pruned RANGE scan on the CLONE: stats pruning AND tombstones
    //    both apply — carried sidecar skips files, carried DV hides rows
    val pruned = store.readPrunedRange("c", "id", lit(100L), lit(299L))
    // repartitionByRange samples its boundaries: a 200-id span over 10
    // ~200-row files touches at most 3
    pruned.inputFiles.length should be <= 3
    pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (100L to 299L).filterNot(_ % 10 == 0)
    // bloom point probe on the clone composes with the DV the same way
    store.readPrunedPoint("c", "key", lit(30L)).count() shouldBe 0L  // id=10: deleted
    store.readPrunedPoint("c", "key", lit(33L)).count() shouldBe 1L  // id=11: alive

    // 2. TIME TRAVEL the source to v0: the pre-delete snapshot is intact
    //    even though the current version carries a DV
    store.readVersion("t", v0, schema).count() shouldBe 2000L

    // 3. divergence under DML: more deletes on the clone touch neither
    //    the source's current read nor its time-travel targets
    store.deleteWhereMoR("c", col("id") >= 1000L) shouldBe 900L
    store.read("t").count() shouldBe 1800L
    store.readVersion("t", v0, schema).count() shouldBe 2000L
    store.readPrunedRange("c", "id", lit(900L), lit(1099L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (900L until 1000L).filterNot(_ % 10 == 0)

    // 4. PURGE the clone: tombstones materialize, pruned reads unchanged
    store.purgeDeletes("c") shouldBe 1100L
    store.readPrunedRange("c", "id", lit(900L), lit(1099L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (900L until 1000L).filterNot(_ % 10 == 0)

    // 5. source overwritten + vacuumed: clone keeps reading and PRUNING
    //    (hard links keep shared bytes alive; the clone's sidecar is its
    //    own copy)
    store.overwrite("t", Seq((1L, 3L)).toDF("id", "key"))
    store.vacuum()
    val afterVac = store.readPrunedRange("c", "id", lit(100L), lit(299L))
    afterVac.inputFiles.length should be <= 3
    afterVac.select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (100L to 299L).filterNot(_ % 10 == 0)
  }

  test("statted EMPTY version: sidecar-carrying DML degrades to no " +
      "sidecar instead of crashing on the empty stats relation") {
    val s = spark
    import s.implicits._
    val store = new TableStore(tmpDir("dv-emptystats"), spark)
    store.commit(Map("t" -> store.stageWithStats("t",
      Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"))))
    // upsertMoR carries sidecars; pre-fix this threw NoSuchElementException
    store.upsertMoR("t", Seq((1L, "a")).toDF("id", "v"), Seq("id")) shouldBe 0L
    store.read("t").count() shouldBe 1L
    // clone of a statted-empty-history table also survives
    store.cloneTable("t", "c")
    store.read("c").count() shouldBe 1L
  }

  /** One carry DML under the shared successor-version contract: `run`
    * performs it (plus any setup it needs) on the fixture table `t` and
    * returns the version dir it carried from; the successor is the
    * current version of `table` afterwards. */
  private case class CarryCase(name: String, table: String = "t",
      tag: String = "7", stats: Boolean = true,
      addedColumn: Option[String] = None)(val run: TableStore => String)

  /** Runs `f` on the current version of `t`, returning that version's dir. */
  private def carriedFrom(store: TableStore)(f: => Any): String = {
    val src = store.currentPath("t").get
    f
    src
  }

  test("one carry contract for every carry DML: hard-linked kept files, " +
      "_SUCCESS, tag, declared schema and remapped stats rows") {
    val s = spark
    import s.implicits._
    val carryCases = Seq(
      CarryCase("deleteRange")(st => carriedFrom(st)(
        st.deleteRange("t", "id", lit(0L), lit(9L)) shouldBe 10L)),
      CarryCase("deleteWhereMoR")(st => carriedFrom(st)(
        st.deleteWhereMoR("t", col("id") % 10 === 0) shouldBe 41L)),
      CarryCase("purgeDeletes") { st =>
        st.deleteWhereMoR("t", col("id") < 5L) shouldBe 5L
        carriedFrom(st)(st.purgeDeletes("t") shouldBe 5L)
      },
      CarryCase("upsertMoR")(st => carriedFrom(st)(
        st.upsertMoR("t", Seq((1L, "u1", "n"), (900L, "u900", "n"))
          .toDF("id", "v", "note"), Seq("id")) shouldBe 1L)),
      CarryCase("upsertMoR tagged", tag = "8")(st => carriedFrom(st)(
        st.upsertMoR("t", Seq((2L, "u2", "n")).toDF("id", "v", "note"),
          Seq("id"), tag = Some("8")) shouldBe 1L)),
      CarryCase("appendEvolved", stats = false,
          addedColumn = Some("extra"))(st => carriedFrom(st)(
        st.appendEvolved("t",
          Seq((901L, "e", "n", 1L)).toDF("id", "v", "note", "extra")))),
      CarryCase("compactSmallFiles") { st =>
        val src = st.currentPath("t").get
        // everything but the largest file is "small": packs, carries it
        val target = dataFiles(src).values.max
        carriedFrom(st)(st.compactSmallFiles("t", targetBytes = target,
          minSmallFiles = 1) should be > 0)
      },
      CarryCase("cloneTable", table = "c")(st =>
        carriedFrom(st)(st.cloneTable("t", "c"))),
      CarryCase("restoreTable") { st =>
        val src = st.manifest("t")
        st.deleteWhereMoR("t", col("id") === 1L) shouldBe 1L
        st.restoreTable("t", src)
        Paths.get(st.root, "t", src).toString
      })

    val ino = (d: String, n: String) =>
      Files.getAttribute(Paths.get(d, n), "unix:ino")
    val declared = (d: String) => Some(Paths.get(d, "_graft_schema"))
      .filter(Files.exists(_)).map(f =>
        org.apache.spark.sql.types.StructType.fromDDL(Files.readString(f))
          .fieldNames.toSeq)
    carryCases.foreach { c =>
      withClue(s"${c.name}: ") {
        // the fixture: a flat, statted, tagged, schema-evolved version —
        // four range files of generation 1 plus one generation-2 file,
        // evolved under tag 7, then re-statted in place
        val store = new TableStore(tmpDir("dv-carry"), spark)
        store.overwrite("t", (0L until 400L).map(i => (i, s"v$i")).toDF("id", "v")
          .repartitionByRange(4, col("id")).sortWithinPartitions("id"))
        store.appendEvolved("t",
          (400L until 410L).map(i => (i, s"v$i", s"n$i")).toDF("id", "v", "note")
            .coalesce(1), tag = Some("7"))
        FileStats.write(spark, store.currentPath("t").get, Seq("id"))

        val src = c.run(store)
        val dst = store.currentPath(c.table).get
        dst should not be src
        // every kept file is the source's file, hard-linked
        val kept = dataFiles(dst).keySet intersect dataFiles(src).keySet
        kept should not be empty
        kept.foreach(n => ino(dst, n) shouldBe ino(src, n))
        Files.exists(Paths.get(dst, "_SUCCESS")) shouldBe true
        store.versionTag(c.table) shouldBe Some(c.tag)
        declared(src) should not be empty
        declared(dst) shouldBe declared(src).map(_ ++ c.addedColumn)
        FileStats.read(spark, dst) match {
          case None => c.stats shouldBe false
          case Some(rows) =>
            c.stats shouldBe true
            // one stats row per data file, every one naming the new dir
            val files = rows.select("file").collect().map(r =>
              Paths.get(java.net.URI.create(r.getString(0)).getPath))
            files.map(_.getFileName.toString).toSet shouldBe
              dataFiles(dst).keySet
            files.foreach(_.getParent shouldBe Paths.get(dst).toAbsolutePath)
        }
        store.read(c.table).count() should be > 0L
      }
    }
  }
}
