package graft.ops

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Unit tests for the merge / CDC-diff / SCD2 operators (SURVEY.md §5.2). */
class OpsSpec extends AnyFunSuite with Matchers with SparkSpec {

  import org.apache.spark.sql.functions._

  private def suppliers(rows: (Long, String, String, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("supplier_key", "supplier_code", "supplier_name", "supplier_state")
  }

  // ---- Merge.upsert (J1) --------------------------------------------------

  test("upsert: update, insert, and no-op cases") {
    val target = suppliers(
      (1L, "A101", "Kohli", "Delhi"),
      (2L, "A102", "Dhoni", "Ranchi"))
    val source = suppliers(
      (1L, "A101", "Kohli", "Goa"),     // changed state → update
      (2L, "A102", "Dhoni", "Ranchi"),  // unchanged → no-op
      (3L, "A103", "Pujara", "Gujarat")) // new code → insert

    val out = Merge.upsert(target, source, Seq("supplier_code"))
      .orderBy("supplier_key").collect()
    out.length shouldBe 3
    out(0).getAs[String]("supplier_state") shouldBe "Goa"
    out(1).getAs[String]("supplier_state") shouldBe "Ranchi"
    out(2).getAs[String]("supplier_code") shouldBe "A103"
  }

  test("upsert: target rows absent from source persist (no delete branch)") {
    val target = suppliers((1L, "A101", "Kohli", "Delhi"))
    val source = suppliers((2L, "A102", "Dhoni", "Ranchi"))
    Merge.upsert(target, source, Seq("supplier_code")).count() shouldBe 2
  }

  test("upsert: null-propagating change detection never updates on NULLs") {
    // Snowflake != is null-propagating (SURVEY.md §4b.4): a NULL name on
    // either side makes the disjunct UNKNOWN; with all others equal the
    // row must NOT update.
    val target = suppliers((1L, "A101", null, "Delhi"))
    val source = suppliers((1L, "A101", "Kohli", "Delhi"))
    val out = Merge.upsert(target, source, Seq("supplier_code")).collect()
    out.length shouldBe 1
    out(0).getAs[String]("supplier_name") shouldBe null // kept target row

    // null-safe mode updates
    val out2 = Merge.upsert(target, source, Seq("supplier_code"),
      nullSafe = true).collect()
    out2(0).getAs[String]("supplier_name") shouldBe "Kohli"
  }

  test("upsertChanges equals upsert for the next version and SnapshotCdc.diff for the CDC") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    val schema = new StructType().add("k1", StringType).add("k2", IntegerType)
      .add("a", StringType).add("b", IntegerType).add("c", StringType)
    val cols = schema.fieldNames.toSeq
    def frame(rows: Seq[Row]) = spark.createDataFrame(rows.asJava, schema)
    def bag(df: DataFrame) = df.select(df.columns.sorted.map(col).toSeq: _*)
      .collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }

    for (seed <- 0 until 16) withClue(s"seed=$seed: ") {
      val rnd = new scala.util.Random(seed)
      def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
      def values(): Seq[Any] = Seq(pick("x", "y", null), pick(1, 2, null), pick("p", "q"))
      val keys = if (rnd.nextBoolean()) Seq("k1") else Seq("k1", "k2")
      def keyOf(r: Row) = keys.map(k => r.get(cols.indexOf(k)))
      val allKeys = rnd.shuffle(for (k1 <- 0 until 5; k2 <- 0 until 2) yield (s"K$k1", k2))
        .distinctBy { case (k1, k2) => if (keys.size == 1) (k1, 0) else (k1, k2) }
      val (inTarget, fresh) = allKeys.splitAt(rnd.nextInt(allKeys.size + 1))
      val target = inTarget.map { case (k1, k2) => Row.fromSeq(Seq(k1, k2) ++ values()) }
      // seed 0 sends an empty batch; the rest re-send some target rows
      // unchanged, change others (NULLs included), skip some, add new keys
      val resent = if (seed == 0) Nil else target.flatMap { r =>
        rnd.nextInt(3) match {
          case 0 => None
          case 1 => Some(r)
          case _ => Some(Row.fromSeq(Seq(r.get(0), if (keys.size == 1) pick(0, 1) else r.get(1)) ++ values()))
        }
      }
      val added = if (seed == 0) Nil else fresh.take(rnd.nextInt(3))
        .map { case (k1, k2) => Row.fromSeq(Seq(k1, k2) ++ values()) }
      // a NULL-key row: a new key each time it is sent, as in upsert
      val nullKey = seed % 4 == 3
      val source = resent ++ added ++
        (if (nullKey) Seq(Row.fromSeq(Seq(null, 0) ++ values())) else Nil)
      require(source.map(keyOf).distinct.size == source.size)
      val compareCols = pick(None, Some(Seq("a")), Some(Seq("b", "c")), Some(Seq("a", "c")))

      // odd seeds put the key columns last: the output keeps the order
      val order = if (seed % 2 == 1) cols.drop(2) ++ cols.take(2) else cols
      val prev = frame(target).select(order.map(col): _*)
      val batch = frame(rnd.shuffle(source)).select(order.map(col): _*)
      // the next version is the carry MERGE of the changes into a store
      // holding `prev` (none when the target is empty): the replaced rows
      // tombstoned, the INSERT images appended
      val store = new graft.core.TableStore(tmpDir("upsert-changes"), spark)
      val base = Option.when(target.nonEmpty)(store.stage("t", prev))
      base.foreach(v => store.commit(Map("t" -> v)))
      val touched = store.touch("t", base, prev.schema,
        select = Some(Merge.matched(batch, keys)))
      val ch = Merge.upsertChanges(touched.rows, batch, keys, compareCols)
      try {
        val want = Merge.upsert(prev, batch, keys, compareCols)
        ch.cdc.schema.map(f => f.name -> f.dataType) shouldBe graft.core.Schemas
          .withCdcColumns(StructType(order.map(schema(_)))).map(f => f.name -> f.dataType)
        if (nullKey) ch.cdc.filter(col("k1").isNull).count() shouldBe 1
        else bag(ch.cdc) shouldBe bag(SnapshotCdc.diff(prev, want, keys))
        store.commit(Map("t" -> store.stageMerge(touched,
          _ => (Some(ch.replaced), ch.inserted))), expect = Map("t" -> base))
        val next = store.readOrEmpty("t", prev.schema)
        next.columns.toSeq shouldBe order
        bag(next) shouldBe bag(want)
      } finally { touched.release(); ch.release() }
    }
  }

  // ---- SnapshotCdc.diff (J3) ---------------------------------------------

  test("cdc diff: insert / update-pair / delete / unchanged") {
    val prev = suppliers(
      (1L, "A101", "Kohli", "Delhi"),
      (2L, "A102", "Dhoni", "Ranchi"),
      (3L, "A103", "Pujara", "Gujarat"))
    val curr = suppliers(
      (1L, "A101", "Kohli", "Delhi"),   // unchanged → no rows
      (2L, "A102", "Dhoni", "Jharkhand"), // changed → DELETE+INSERT pair
      (4L, "A104", "Bumrah", "Mumbai"))  // new → INSERT

    val d = SnapshotCdc.diff(prev, curr, Seq("supplier_code")).collect()
    d.length shouldBe 4

    val byAction = d.groupBy(_.getAs[String]("_action"))
    byAction("INSERT").length shouldBe 2
    byAction("DELETE").length shouldBe 2 // A102 old image + A103 true delete

    val a102 = d.filter(_.getAs[String]("supplier_code") == "A102")
    a102.length shouldBe 2
    a102.forall(_.getAs[Boolean]("_is_update")) shouldBe true
    a102.map(_.getAs[String]("_row_id")).distinct.length shouldBe 1

    val a103 = d.filter(_.getAs[String]("supplier_code") == "A103")
    a103.length shouldBe 1
    a103.head.getAs[String]("_action") shouldBe "DELETE"
    a103.head.getAs[Boolean]("_is_update") shouldBe false
  }

  test("cdc row ids never collide across composite keys, separator characters or NULLs") {
    val s = spark
    import s.implicits._
    // splits of one string, with and without a separator-like character
    // inside a value, and NULL in either position or against ''
    val curr = Seq[(String, String, Int)](
        ("ab", "c", 1), ("a", "bc", 2),
        ("a\u0001b", "c", 3), ("a", "b\u0001c", 4),
        (null, "x", 5), ("x", null, 6), ("", "x", 7), ("", null, 8))
      .toDF("k1", "k2", "v")
    val ids = SnapshotCdc.diff(curr.limit(0), curr, Seq("k1", "k2"))
      .select("_row_id").collect().map(_.getString(0))
    ids.length shouldBe 8
    ids.forall(_ != null) shouldBe true
    ids.distinct.length shouldBe 8
  }

  // ---- Scd2.merge (J2) ----------------------------------------------------

  private val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2024-02-01 00:00:00")
  private val t3 = Timestamp.valueOf("2024-03-01 00:00:00")

  private def history(rows: (Long, String, String, String, Timestamp, Option[Timestamp], String)*) = {
    val s = spark
    import s.implicits._
    rows.map { case (k, c, n, st, sd, ed, f) => (k, c, n, st, sd, ed.orNull, f) }
      .toDF("supplier_key", "supplier_code", "supplier_name", "supplier_state",
        "start_date", "end_date", "current_flag")
  }

  private def cdc(rows: (Long, String, String, String, String, Boolean)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("supplier_key", "supplier_code", "supplier_name",
      "supplier_state", "_action", "_is_update")
  }

  test("scd2: close-out and open-version branches") {
    val staging = history(
      (5L, "A105", "Rohit", "Hyderabad", t1, None, "Y"))
    val delta = cdc(
      (5L, "A105", "Rohit", "Hyderabad", "DELETE", true),
      (5L, "A105", "Rohit", "Tamilnadu", "INSERT", true))

    val out = Scd2.merge(staging, delta, t2,
      Seq("supplier_code", "supplier_state")).orderBy("start_date").collect()
    out.length shouldBe 2
    out(0).getAs[String]("current_flag") shouldBe "N"
    out(0).getAs[Timestamp]("end_date") shouldBe t2
    out(1).getAs[String]("current_flag") shouldBe "Y"
    out(1).getAs[Timestamp]("start_date") shouldBe t2
    out(1).getAs[Timestamp]("end_date") shouldBe null
  }

  test("scd2 faithful quirk: returning to a prior state opens no new version") {
    // SURVEY.md §4b.1: the closed-out Hyderabad row swallows the INSERT.
    val staging = history(
      (5L, "A105", "Rohit", "Hyderabad", t1, Some(t2), "N"),
      (5L, "A105", "Rohit", "Tamilnadu", t2, None, "Y"))
    val delta = cdc(
      (5L, "A105", "Rohit", "Tamilnadu", "DELETE", true),
      (5L, "A105", "Rohit", "Hyderabad", "INSERT", true))

    val faithful = Scd2.merge(staging, delta, t3,
      Seq("supplier_code", "supplier_state"), faithful = true)
    faithful.count() shouldBe 2 // no new row
    faithful.filter("current_flag = 'Y'").count() shouldBe 0 // both closed!

    // corrected mode: closed-out history is invisible → a fresh Hyderabad
    // version opens.
    val corrected = Scd2.merge(staging, delta, t3,
      Seq("supplier_code", "supplier_state"), faithful = false)
    corrected.count() shouldBe 3
    val cur = corrected.filter("current_flag = 'Y'").collect()
    cur.length shouldBe 1
    cur.head.getAs[String]("supplier_state") shouldBe "Hyderabad"
    cur.head.getAs[Timestamp]("start_date") shouldBe t3
  }

  test("scd2 faithful quirk: name-only change retires the supplier") {
    // SURVEY.md §4b.2: DELETE image closes the row; the INSERT image matches
    // the same (code,state) and is swallowed → row leaves MASTER.
    val staging = history(
      (3L, "A103", "Pujara", "Gujarat", t1, None, "Y"))
    val delta = cdc(
      (3L, "A103", "Pujara", "Gujarat", "DELETE", true),
      (3L, "A103", "Cheteshwar Pujara", "Gujarat", "INSERT", true))

    val out = Scd2.merge(staging, delta, t2,
      Seq("supplier_code", "supplier_state"))
    out.count() shouldBe 1
    out.filter("current_flag = 'Y'").count() shouldBe 0
    Scd2.currentView(out, Seq("supplier_key", "supplier_code",
      "supplier_name", "supplier_state")).count() shouldBe 0
  }

  test("scd2 NULL tracked value: faithful re-inserts (Snowflake =), corrected matches null-safely") {
    val staging = history(
      (9L, "A109", "Nobody", null.asInstanceOf[String], t1, None, "Y"))
    val delta = cdc((9L, "A109", "Nobody", null.asInstanceOf[String], "INSERT", false))

    // faithful: NULL never matches → a duplicate open version appears
    Scd2.merge(staging, delta, t2,
      Seq("supplier_code", "supplier_state"), faithful = true)
      .count() shouldBe 2

    // corrected: NULL <=> NULL matches → swallowed, history unchanged
    Scd2.merge(staging, delta, t2,
      Seq("supplier_code", "supplier_state"), faithful = false)
      .count() shouldBe 1
  }

  test("scd2: plain inserts open versions with null end_date") {
    val staging = history()
    val delta = cdc((7L, "A107", "Pujara", "Saurasthra", "INSERT", false))
    val out = Scd2.merge(staging, delta, t1,
      Seq("supplier_code", "supplier_state")).collect()
    out.length shouldBe 1
    out.head.getAs[String]("current_flag") shouldBe "Y"
    out.head.getAs[Timestamp]("start_date") shouldBe t1
  }

  test("point-in-time join picks the version valid at each fact timestamp") {
    val s = spark
    import s.implicits._
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2024-02-01 00:00:00")
    // two versions of A1 ([t1,t2) then [t2,∞)), one open version of A2
    val history = Seq(
      ("A1", "StateOld", t1, Some(t2), "N"),
      ("A1", "StateNew", t2, None, "Y"),
      ("A2", "StateX", t1, None, "Y"))
      .toDF("supplier_code", "supplier_state", "start_date", "end_date", "current_flag")
      .withColumn("end_date", col("end_date").cast("timestamp"))
    val facts = Seq(
      (1L, "A1", Timestamp.valueOf("2024-01-15 00:00:00")), // old version
      (2L, "A1", Timestamp.valueOf("2024-02-15 00:00:00")), // new version
      (3L, "A1", Timestamp.valueOf("2024-02-01 00:00:00")), // boundary → new (start inclusive, end exclusive)
      (4L, "A2", Timestamp.valueOf("2024-03-01 00:00:00")), // open version
      (5L, "A1", Timestamp.valueOf("2023-12-01 00:00:00")), // before first version → null
      (6L, "A9", Timestamp.valueOf("2024-02-15 00:00:00"))) // unknown key → null
      .toDF("fact_id", "supplier_code", "fact_ts")

    val out = Scd2.pointInTime(facts, history, "fact_ts", Seq("supplier_code"))
      .orderBy("fact_id").collect()
    out.map(r => Option(r.getAs[String]("supplier_state"))).toSeq shouldBe Seq(
      Some("StateOld"), Some("StateNew"), Some("StateNew"),
      Some("StateX"), None, None)
    out.length shouldBe 6 // at most one version per fact (disjoint ranges)
  }

  // ---- IncrementalAgg (CDC-maintained materialized aggregate) ------------

  test("incremental aggregate from CDC equals full recompute (insert/update/delete)") {
    val s = spark
    import s.implicits._
    val snap1 = Seq(
      ("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0), ("c", 4L, 40.0))
      .toDF("grp", "id", "x")
    val snap2 = Seq(
      ("a", 1L, 15.0),  // update (DELETE 10.0 + INSERT 15.0)
      ("a", 2L, 20.0),  // unchanged
      ("a", 5L, 50.0),  // insert
      ("b", 3L, 30.0))  // unchanged; id 4 deleted → group c empties
      .toDF("grp", "id", "x")

    val maintained = IncrementalAgg.applyCdc(
      IncrementalAgg.fullAggregate(snap1, Seq("grp"), Seq("x")),
      SnapshotCdc.diff(snap1, snap2, Seq("id")),
      Seq("grp"), Seq("x"))
    val recomputed = IncrementalAgg.fullAggregate(snap2, Seq("grp"), Seq("x"))

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("grp").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    rows(maintained) shouldBe rows(recomputed)
    rows(maintained) shouldBe Seq(("a", 3L, 85.0), ("b", 1L, 30.0)) // no "c"
  }

  test("incremental aggregate stays correct across chained deltas") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    var snap = (1 to 200).map(i => (s"g${i % 5}", i.toLong, rnd.nextInt(100).toDouble))
      .toDF("grp", "id", "x").localCheckpoint(true)
    var agg = IncrementalAgg.fullAggregate(snap, Seq("grp"), Seq("x"))
      .localCheckpoint(true)
    (1 to 3).foreach { step =>
      // mutate: change ~1/3 of values, drop ids divisible by (6+step),
      // insert a fresh block
      val next = snap
        .filter(col("id") % (6 + step) =!= 0)
        .withColumn("x",
          when(col("id") % 3 === 0, col("x") + step).otherwise(col("x")))
        .unionByName((1 to 20).map(i =>
            (s"g${i % 5}", 1000L * step + i, i.toDouble))
          .toDF("grp", "id", "x"))
        .localCheckpoint(true)
      agg = IncrementalAgg.applyCdc(agg,
        SnapshotCdc.diff(snap, next, Seq("id")), Seq("grp"), Seq("x"))
        .localCheckpoint(true)
      snap = next
    }
    val expected = IncrementalAgg.fullAggregate(snap, Seq("grp"), Seq("x"))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    agg.orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq shouldBe expected
  }

  test("sketch distinct MV: maintained estimate within HLL error of exact; " +
      "CDC batches are refused") {
    val s = spark
    import s.implicits._
    val all = (1 to 3000).map(i => (s"g${i % 3}", (i % 700).toLong))
      .toDF("grp", "uid")
    val (h1, h2) = (all.filter($"uid" % 2 === 0), all.filter($"uid" % 2 =!= 0))
    val mv = IncrementalAgg.applyInsertsDistinct(
      IncrementalAgg.fullDistinctSketch(h1, Seq("grp"), "uid"),
      h2, Seq("grp"), "uid")
    // the maintained estimate honors the HLL error contract vs EXACT
    // (estimate-equality with a one-shot sketch is NOT guaranteed: at
    // this cardinality the union path and the direct path cross the
    // sparse→dense mode boundary differently and land on slightly
    // different registers — 687 vs 694 observed at true 700)
    val inc = IncrementalAgg.estimateDistinct(mv, Seq("grp"))
      .orderBy("grp").collect().map(r => (r.getString(0), r.getLong(1)))
    val exact = all.groupBy("grp").agg(count_distinct($"uid").as("n"))
      .orderBy("grp").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    inc.foreach { case (g, est) =>
      math.abs(est - exact(g)).toDouble should be <= exact(g) * 0.05
    }
    // insert-only contract: a batch still carrying _action is refused
    val cdcish = h2.withColumn(graft.core.Schemas.cdcActionCol, lit("INSERT"))
    an[IllegalArgumentException] should be thrownBy
      IncrementalAgg.applyInsertsDistinct(mv, cdcish, Seq("grp"), "uid")
  }

  // ---- Scd2.spliceLate (late-arriving corrections) ------------------------

  test("scd2 late splice: closed/open versions split, boundary replaces, others pass") {
    val s = spark
    import s.implicits._
    def ts(d: String) = java.sql.Timestamp.valueOf(s"$d 00:00:00")
    val staging = Seq(
      // key A: closed Jan version + open Feb version
      ("A", "x1", ts("2024-01-01"), Some(ts("2024-02-01")), "N"),
      ("A", "x2", ts("2024-02-01"), None, "Y"),
      // key B: one open version
      ("B", "y1", ts("2024-01-01"), None, "Y"),
      // key C: untouched bystander
      ("C", "z1", ts("2024-01-01"), None, "Y"))
      .map { case (k, v, sd, ed, f) => (k, v, sd, ed.orNull, f) }
      .toDF("code", "v", "start_date", "end_date", "current_flag")
    // late: A corrected mid-January (splits the CLOSED version),
    //       B corrected exactly at its start (in-place replacement)
    val late = Seq(
      ("A", "x1L", ts("2024-01-15")),
      ("B", "y1L", ts("2024-01-01")))
      .toDF("code", "v", "effective_ts")
    val out = Scd2.spliceLate(staging, late, Seq("code"))
      .orderBy("code", "start_date").collect()
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getString(4)))
    out shouldBe Array(
      ("A", "x1", ts("2024-01-01"), ts("2024-01-15"), "N"),
      ("A", "x1L", ts("2024-01-15"), ts("2024-02-01"), "N"),
      ("A", "x2", ts("2024-02-01"), null, "Y"),
      ("B", "y1L", ts("2024-01-01"), null, "Y"),
      ("C", "z1", ts("2024-01-01"), null, "Y"))
    // splicing into the OPEN version keeps exactly one open row per key
    val late2 = Seq(("C", "z1L", ts("2024-03-01"))).toDF("code", "v", "effective_ts")
    val outC = Scd2.spliceLate(staging, late2, Seq("code"))
      .filter(col("code") === "C").orderBy("start_date").collect()
      .map(r => (r.getString(1), r.getTimestamp(3), r.getString(4)))
    outC shouldBe Array(
      ("z1", ts("2024-03-01"), "N"),
      ("z1L", null, "Y"))
  }

  // ---- Scd4 (Type 1 current + append-only history table) ------------------

  test("scd4: changed rows append their prior version; inserts and no-ops don't") {
    val ts2 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val ts3 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val cur0 = suppliers(
      (1L, "A101", "Kohli", "Delhi"),
      (2L, "A102", "Dhoni", "Ranchi"),
      (3L, "A103", "Pujara", "Gujarat"))
    val d1 = suppliers(
      (1L, "A101", "Kohli", "Goa"),    // change → history gets Delhi version
      (2L, "A102", "Dhoni", "Ranchi"), // no-op → nothing
      (4L, "A104", "Gill", "Punjab"))  // insert → nothing (no prior)
    val (c1, h1) = Scd4(cur0, d1, Seq("supplier_code"), ts2)
    h1.collect().map(r => (r.getString(1), r.getString(3), r.getTimestamp(4))) shouldBe
      Array(("A101", "Delhi", ts2))
    c1.orderBy("supplier_key").collect().map(_.getString(3)) shouldBe
      Array("Goa", "Ranchi", "Gujarat", "Punjab")
    // second cycle: another change to the same key appends a second
    // version; history is append-only and versions stay distinguishable
    val d2 = suppliers((1L, "A101", "Kohli", "Pune"))
    val (c2, h2) = Scd4(c1.localCheckpoint(true), d2, Seq("supplier_code"), ts3)
    val hist = h1.unionByName(h2)
    hist.orderBy("superseded_at").collect()
      .map(r => (r.getString(3), r.getTimestamp(4))) shouldBe
      Array(("Delhi", ts2), ("Goa", ts3))
    // point-in-time: between the cycles key 1 was 'Goa'; asOf after all
    // cycles is just the current table
    val asOfMid = Scd4.asOf(c2, hist, Seq("supplier_code"),
      java.sql.Timestamp.valueOf("2024-02-15 00:00:00"))
    asOfMid.orderBy("supplier_key").collect().map(_.getString(3)) shouldBe
      Array("Goa", "Ranchi", "Gujarat", "Punjab")
    val asOfLate = Scd4.asOf(c2, hist, Seq("supplier_code"),
      java.sql.Timestamp.valueOf("2024-04-01 00:00:00"))
    asOfLate.orderBy("supplier_key").collect().map(_.getString(3)) shouldBe
      Array("Pune", "Ranchi", "Gujarat", "Punjab")
  }

  test("scd4: current and history agree on NULL compare values in both null modes") {
    // a key's current row changes exactly when history gains its prior
    // image, whether a NULL makes the change UNKNOWN (Snowflake `!=`, no
    // update) or distinct (IS DISTINCT FROM, update)
    val ts = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val cur0 = suppliers(
      (1L, "A101", null, "Delhi"),     // name NULL → value
      (2L, "A102", "Dhoni", "Ranchi"), // name value → NULL
      (3L, "A103", null, "Gujarat"),   // name NULL → NULL, state kept
      (4L, "A104", null, "Punjab"),    // name NULL → NULL, state changed
      (5L, "A105", "Gill", "Goa"))     // plain change
    val delta = suppliers(
      (1L, "A101", "Kohli", "Delhi"),
      (2L, "A102", null, "Ranchi"),
      (3L, "A103", null, "Gujarat"),
      (4L, "A104", null, "Kerala"),
      (5L, "A105", "Gill", "Pune"))
    val before = cur0.collect().map(r => r.getString(1) -> r).toMap
    for ((nullSafe, expected) <- Seq(
        false -> Set("A104", "A105"),
        true -> Set("A101", "A102", "A104", "A105"))) {
      val (cur, hist) = Scd4(cur0, delta, Seq("supplier_code"), ts, nullSafe)
      val updated = cur.collect()
        .filter(r => before.get(r.getString(1)).exists(_ != r))
        .map(_.getString(1)).toSet
      val prior = hist.drop("superseded_at").collect()
      withClue(s"nullSafe = $nullSafe: ") {
        updated shouldBe expected
        prior.map(_.getString(1)).sorted shouldBe expected.toSeq.sorted
        prior.foreach(r => r shouldBe before(r.getString(1)))
      }
    }
  }

  // ---- Scd3 (Type 3 previous-value columns, Type 6 overlay) ---------------

  test("scd3: tracked change moves old value to prev, untracked overwrites, inserts null-prev") {
    val t0 = Scd3.init(suppliers(
      (1L, "A101", "Kohli", "Delhi"),
      (2L, "A102", "Dhoni", "Ranchi"),
      (3L, "A103", "Pujara", "Gujarat")), Seq("supplier_state"))
    val delta = suppliers(
      (1L, "A101", "Kohli", "Goa"),       // state change → prev = Delhi
      (2L, "A102", "MSD", "Ranchi"),      // name-only change → prev stays null
      (4L, "A104", "Gill", "Punjab"))     // insert → prev null
    val out = Scd3.merge(t0, delta, Seq("supplier_code"), Seq("supplier_state"))
      .orderBy("supplier_key").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
    out shouldBe Array(
      ("A101", "Kohli", "Goa", "Delhi"),
      ("A102", "MSD", "Ranchi", null),
      ("A103", "Pujara", "Gujarat", null),
      ("A104", "Gill", "Punjab", null))
    // a SECOND change overwrites prev with the last distinct value, and a
    // no-op cycle leaves an earlier prev in place
    val d2 = suppliers((1L, "A101", "Kohli", "Pune"), (2L, "A102", "MSD", "Ranchi"))
    val out2 = Scd3.merge(
        Scd3.merge(t0, delta, Seq("supplier_code"), Seq("supplier_state")),
        d2, Seq("supplier_code"), Seq("supplier_state"))
      .orderBy("supplier_key").collect()
      .map(r => (r.getString(1), r.getString(3), r.getString(4)))
    out2.take(2) shouldBe Array(("A101", "Pune", "Goa"), ("A102", "Ranchi", null))
  }

  test("scd3: null-propagating change detection leaves prev untouched on null source") {
    val t0 = Scd3.init(suppliers((1L, "A101", "Kohli", "Delhi")), Seq("supplier_state"))
    val s = spark
    import s.implicits._
    val delta = Seq((1L, "A101", "Kohli", null.asInstanceOf[String]))
      .toDF("supplier_key", "supplier_code", "supplier_name", "supplier_state")
    // Snowflake != is UNKNOWN against NULL → no update in default mode
    val out = Scd3.merge(t0, delta, Seq("supplier_code"), Seq("supplier_state"))
      .collect().map(r => (r.getString(3), r.getString(4)))
    out shouldBe Array(("Delhi", null))
    // nullSafe mode treats NULL as a distinct value → prev = Delhi, cur = null
    val outNs = Scd3.merge(t0, delta, Seq("supplier_code"), Seq("supplier_state"),
        nullSafe = true)
      .collect().map(r => (r.getString(3), r.getString(4)))
    outNs shouldBe Array((null, "Delhi"))
  }

  test("scd6 overlay: every history row carries the key's current value; no open row → null") {
    val s = spark
    import s.implicits._
    val staging = Seq(
      ("A101", "Delhi", "N"), ("A101", "Goa", "Y"),
      ("A102", "Ranchi", "N")) // faithful-mode close without reopen
      .toDF("supplier_code", "supplier_state", "current_flag")
    val out = Scd3.scd6(staging, Seq("supplier_code"), Seq("supplier_state"))
      .orderBy("supplier_code", "supplier_state").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(3)))
    out shouldBe Array(
      ("A101", "Delhi", "Goa"), ("A101", "Goa", "Goa"),
      ("A102", "Ranchi", null))
  }
}
