package graft.pipeline

import java.nio.file.Paths
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Overlap, Schemas, TableStore}
import graft.ops.{Merge, Scd2}
import graft.sources.Stage

/** The full SCD Type-2 pipeline — the Spark re-expression of the
  * reference's five-task DAG (`SCD-Automation.sql:34-102`; SURVEY.md §3).
  *
  * One [[runCycle]] call is one DAG tick:
  * {{{
  *   task1  TRUNCATE raw                (SCD-Automation.sql:34-38)
  *   task2  COPY stage → raw, PURGE     (SCD-Automation.sql:43-49)
  *   task3  MERGE raw → landing         (SCD-Automation.sql:53-74)   [J1]
  *   task4  MERGE stream → staging      (SCD-Automation.sql:79-93)   [J2]
  *   task5  master := staging 'Y' view  (SCD-Automation.sql:97-102)  [D4]
  * }}}
  * plus a run-log append (our TASK_HISTORY, `SCD-Automation.sql:116,147`).
  * Task 5 writes nothing: [[master]] is a filtered read of staging.
  *
  * The driver program '''is''' the DAG (SURVEY.md §2.7 W3). Snowflake
  * orders the tasks by AFTER edges; here each Spark action waits only for
  * the data it reads, and independent actions overlap as concurrent jobs
  * on one small per-call driver pool ([[graft.core.Overlap]]):
  * {{{
  *   ledger check -> raw write -+-> duplicate verdict ---+-> landing write  -+
  *                              |   (KeepOne: count)     |   staging write   |
  *                              +-> landing's touched    |   each MV write   +-> commit
  *                              |   rows -> CDC          |   run-log write   |     |
  *                              |   checkpoint (task3)   |   ledger write   -+  upkeep
  *                              +-> staging's touched ---+
  *                                  slice (task4's read)
  * }}}
  * The verdict, the CDC and staging's touched slice each read only the
  * raw version and the pinned tables; the five kinds of write read the
  * CDC and staging's slice (landing, staging, the MVs), the verdict's row
  * count (run log) or nothing of either (ledger). The writes start only
  * once the verdict passes, so a poisoned batch stages no version beyond
  * raw.
  *
  * Both of the paper's MERGE targets live on the carry tier
  * ([[TableStore.touch]] + [[TableStore.stageMerge]]): each write stages
  * one carry version of the pinned table, in which the rows the cycle
  * replaces become deletion-vector tombstones and their successors are
  * appended, beside every other file carried by hard link. Each table is
  * scanned once in phase A, a read, so a failed verdict still stages
  * nothing; phase B only writes.
  *  - Landing (task 3): its rows whose key the batch sends stream through
  *    a broadcast semi-join into the CDC's join ([[Merge.upsertChanges]]),
  *    which carries their row positions, so the CDC's DELETE images name
  *    the tombstones and its INSERT images are the appended rows.
  *  - Staging (task 4): its rows whose key the batch sends
  *    ([[Scd2.touchedBy]]) are checkpointed beside the CDC; the
  *    delta-sized [[Scd2.Plan]] over them tombstones the rows the cycle
  *    closes and appends their closed re-images (N) and the opened
  *    versions (Y) in separate files.
  * The run log and the load ledger are plain appends
  * ([[TableStore.stageAppend]]). So a cycle writes its delta, not its
  * tables; the one commit swaps all of it in. A version an older store
  * wrote bucketed or hive-partitioned is rewritten flat once, by the next
  * cycle.
  *
  * The carry tier's debt is bounded inside the cycle by one rule,
  * [[TableStore.stageUpkeep]]'s (tombstones over a fixed share of its
  * rows: purge; more than a fixed number of data files: pack the small
  * ones). Landing's staged version is maintained before the commit, so
  * each committed landing version is one consumed batch; after the commit
  * each of staging, the run log and the ledger whose committed version
  * passes the rule is maintained, all of them in one more commit that
  * expects the cycle's versions. Cron scheduling lives in [[ScdStream]].
  * The reference's resume-children-before-root ordering
  * (`SCD-Automation.sql:108-114`) collapses into `ScdStream.start()`: with
  * the five tasks expressed as one driver function there is no window in
  * which a resumed root could tick before its children are resumed.
  *
  * Atomicity: every table version is staged first (plain immutable parquet
  * writes), then ONE [[TableStore.commit]] flips raw, landing, staging,
  * the run log, the load ledger and any materialized aggregates
  * together. A crash anywhere before the commit leaves the previous cycle
  * fully intact and the stream unconsumed — the reference's
  * advance-on-consume contract (`SCD-Automation.sql:142`) with no
  * partial-cycle window.
  *
  * The CDC stream on landing keeps no data: its offset is landing's
  * committed version. Task 3's MERGE ([[Merge.upsertChanges]]) yields the
  * rows it changes in landing, in the stream's shape, from its own
  * broadcast join of landing's touched rows with the raw batch: the
  * stream's content since the offset, which task 4 and the aggregate
  * refresh consume. This
  * rests on one invariant: '''landing is written only by the cycle that
  * consumes it''' — so between cycles the stream is empty.
  *
  * Concurrency: a cycle reads every input at the manifest it read on
  * start, and its commit expects those versions, so a cycle another
  * writer committed meanwhile makes this one refuse
  * (`ConcurrentModificationException`, logged FAILED) instead of
  * overwriting it.
  *
  * All rows touched in a cycle share the single `batchTime`
  * (SURVEY.md §4b.3); tests inject it, production passes `now`.
  */
class ScdPipeline(
    val spark: SparkSession,
    val store: TableStore,
    val faithful: Boolean = true,
    val config: ScdConfig = ScdConfig.supplier) {

  private val Raw = config.table("raw")
  private val Landing = config.table("landing")
  private val Staging = config.table("staging")
  private val RunLog = s"${config.prefix}_run_log"
  private val LoadHistory = s"${config.prefix}_load_history"

  private val stagingSchema = Schemas.scd2(config.baseSchema)

  /** The batch with [[ScdConfig.duplicatePolicy]] enforced (a lazy
    * frame), and the action that returns the loaded batch's row count.
    * Under `Error` the action's one aggregation (rows per business key,
    * summed and maxed) gives both the count and the duplicate verdict; the
    * offenders are collected only when it fails. `KeepOne` needs no
    * verdict, so its count is a plain one. The frame does not depend on
    * the action, so the cycle runs the two side by side. */
  private def load(raw: DataFrame): (DataFrame, () => Long) =
    config.duplicatePolicy match {
      case DuplicatePolicy.Error =>
        (raw, () => {
          val perKey = raw.groupBy(config.businessKeys.map(col): _*).count()
          val verdict = perKey.agg(sum("count"), max("count")).head()
          if (!verdict.isNullAt(1) && verdict.getLong(1) > 1) {
            val dups = perKey.filter(col("count") > 1).limit(5).collect()
            throw new IllegalArgumentException(
              "duplicate business keys in one batch (nondeterministic MERGE, " +
                s"Snowflake would raise too); first offenders: ${dups.mkString(", ")}. " +
                "Set ScdConfig.duplicatePolicy = DuplicatePolicy.KeepOne to dedupe.")
          }
          if (verdict.isNullAt(0)) 0L else verdict.getLong(0)
        })
      case DuplicatePolicy.KeepOne =>
        val cols = raw.columns.toSeq
        (raw.groupBy(config.businessKeys.map(col): _*)
          .agg(min(struct(cols.map(col): _*)).as("__row"))
          .select(cols.map(c => col(s"__row.$c").as(c)): _*), () => raw.count())
    }

  /** `table` at the version `pin` maps it to, or empty when unmapped. */
  private def readAt(pin: Map[String, String], table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    pin.get(table) match {
      case Some(v) => store.readVersion(table, v, schema)
      case None    => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Peek the unconsumed stream (SELECT * FROM stream,
    * `SCD-Configuration Setup.sql:127` — side-effect free). The offset is
    * landing's committed version and only the consuming cycle writes
    * landing, so between cycles nothing is unconsumed: an empty frame in
    * the stream's schema, built without a scan. */
  def streamChanges(): DataFrame = spark.createDataFrame(
    java.util.Collections.emptyList[org.apache.spark.sql.Row](),
    Schemas.withCdcColumns(config.baseSchema))

  /** Of the staged files, the ones NOT yet in the committed load-history
    * ledger. An anti-join against the ledger, not a driver-side Set of
    * every file ever loaded: only the current stage listing (one cycle's
    * files) and the anti-join survivors ever reach the driver, so the
    * check stays cycle-sized even after millions of loaded files. */
  private def unloadedFiles(pin: Map[String, String],
      files: Seq[String]): Seq[String] = {
    if (files.isEmpty) return Nil
    val staged = spark.createDataFrame(
      files.map(f =>
        org.apache.spark.sql.Row(f, Paths.get(f).getFileName.toString)).asJava,
      new org.apache.spark.sql.types.StructType()
        .add("path", org.apache.spark.sql.types.StringType)
        .add("file_name", org.apache.spark.sql.types.StringType))
    staged
      .join(readAt(pin, LoadHistory, Schemas.loadHistory)
        .select("file_name"), Seq("file_name"), "left_anti")
      .select("path").collect().map(_.getString(0)).toSeq
  }

  /** Run one pipeline cycle over the files currently in `stage`.
    * Returns the number of rows loaded from the stage.
    *
    * COPY load-history semantics (`SCD-Configuration Setup.sql:183-185`):
    * files whose NAME is already in the per-table ledger are skipped, so a
    * re-run with `purge=false` over the same staged files loads 0 rows —
    * Snowflake's load history keyed the same way (re-PUT of the same name
    * is skipped without FORCE). The ledger row lands in the SAME atomic
    * commit as the cycle's tables: a crash before the commit re-loads the
    * file (exactly-once per file), never half-loads it. */
  def runCycle(stage: Stage, batchTime: Timestamp,
      purge: Boolean = true): Long = {
    val pin = store.manifest
    val files = stage.list()
    val newFiles = unloadedFiles(pin, files)
    cycle(pin, Stage.readCsv(spark, config.baseSchema, newFiles),
      batchTime,
      afterCommit = () => if (purge) stage.rm(files),
      loadedFiles = newFiles.map(f => Paths.get(f).getFileName.toString))
  }

  /** Run one cycle with an already-loaded raw batch (the foreachBatch entry
    * used by [[ScdStream]]). A cycle that throws leaves the previous
    * manifest fully intact and appends a best-effort FAILED row to the run
    * log (the reference's TASK_HISTORY records failed runs too,
    * `SCD-Automation.sql:116,147`); the FAILED append is deliberately
    * OUTSIDE the atomic commit — there is no cycle commit to share. */
  def runCycleWithBatch(rawBatch: DataFrame, batchTime: Timestamp,
      afterCommit: () => Unit = () => (),
      loadedFiles: Seq[String] = Nil): Long =
    cycle(store.manifest, rawBatch, batchTime, afterCommit, loadedFiles)

  /** Best-effort FAILED history row, read and committed at one manifest
    * pin: a run-log row another writer commits meanwhile makes the append
    * refuse rather than overwrite it. A failed append never masks the
    * cycle's failure; it rides on `cause` as a suppressed exception. */
  private def recordFailure(batchTime: Timestamp, cause: Throwable): Unit =
    try {
      val pin = store.manifest
      store.commit(Map(RunLog -> logAppend(pin, batchTime, rowsLoaded = null,
          status = "FAILED")), expect = Map(RunLog -> pin.get(RunLog)))
    } catch { case f: Throwable => cause.addSuppressed(f) }

  /** Stage the run log at `pin` plus one row. The row's `cycle_id` =
    * max(cycle_id)+1 of the PREVIOUS log contents, read on the driver from
    * its files' parquet footer statistics ([[TableStore.footerMax]]), so
    * the append is one job. (Counting the on-disk version dirs instead
    * broke monotonicity: `vacuum()` deletes superseded versions, so every
    * post-vacuum cycle re-counted to the same id.) */
  private def logAppend(pin: Map[String, String], batchTime: Timestamp,
      rowsLoaded: java.lang.Long, status: String): String = {
    val cycleId = pin.get(RunLog).flatMap(store.footerMax(RunLog, _, "cycle_id"))
      .getOrElse(0L) + 1L
    store.stageAppend(RunLog, pin.get(RunLog), spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(cycleId, batchTime, rowsLoaded,
        new Timestamp(System.currentTimeMillis()), status)),
      Schemas.runLog))
  }

  /** One cycle against `pin`, the manifest read at its start: the
    * class doc's DAG, run as two overlapped phases between the raw write
    * and the commit, then the upkeep of the tables it appended to.
    * Whatever fails, every job the cycle started has returned before the
    * checkpoints are released and the failure recorded, and the original
    * exception is rethrown. */
  private def cycle(pin: Map[String, String], rawBatch: DataFrame,
      batchTime: Timestamp, afterCommit: () => Unit,
      loadedFiles: Seq[String]): Long = try {

    // task1+2: truncate raw + COPY INTO raw. Materialized first so the CSV
    // files can be purged after commit and downstream reads are from
    // parquet, not the half-typed CSV path. Every other input is read at
    // `pin`, the pre-cycle snapshot.
    val rawVersion = store.stage(Raw, rawBatch)
    val (raw, countRows) =
      load(store.readVersion(Raw, rawVersion, config.baseSchema))

    // phase A: three reads of the raw version, none of which reads
    // another: the duplicate verdict (KeepOne: the count); the read half
    // of task3's MERGE raw → landing (J1), landing's rows whose key the
    // batch sends and the merge's null-propagating change detection over
    // them, whose join yields the stream on landing since the offset (the
    // landing version the cycle started from): the rows this merge
    // changes, checkpointed; and task4's read half, staging's rows whose
    // key the batch sends, checkpointed. So phase B only writes.
    var rowsLoaded = 0L
    var matched: store.Touched = null
    var changes: Merge.Changes = null
    var plan: Scd2.Plan = null
    var touched: store.Touched = null
    val staged = try {
      Overlap.run(Seq(
        () => rowsLoaded = countRows(),
        () => {
          matched = store.touch(Landing, pin.get(Landing), config.baseSchema,
            select = Some(Merge.matched(raw, config.businessKeys)))
          changes = Merge.upsertChanges(matched.selection, raw,
            config.businessKeys, compareCols = config.compareCols)
          plan = Scd2.plan(stagingSchema.fieldNames.toSeq, changes.cdc, batchTime,
            config.matchKeys, faithful)
        },
        () => {
          touched = store.touch(Staging, pin.get(Staging), stagingSchema,
            select = Some(Scd2.touchedBy(raw, config.businessKeys, faithful)))
          touched.rows // checkpointed here, beside the CDC
        }))
      val cdc = changes.cdc

      // phase B, only once the verdict passed: every table version the
      // commit swaps in, staged concurrently. Staging, the longest write,
      // is listed first (the FIFO scheduler serves the earliest job first).
      // Both MERGEs write carry versions: of the touched rows, the ones
      // the cycle replaces are tombstoned and their successors appended,
      // beside every other file carried by hard link — no byte of either
      // table is rewritten.
      val staged = Overlap.run(Seq[() => (String, String)](
        // task4: MERGE stream → staging (J2/SCD2) — consuming the stream:
        // the closed rows tombstoned, their closed re-images and the
        // opened versions appended (N and Y rows in separate files)
        () => Staging -> store.stageMerge(touched,
          change = rows => (Some(plan.toClose(rows)), plan.appended(rows))),
        // task3's write: the changed keys' old rows tombstoned, their new
        // images and the new keys appended; landing's upkeep is staged
        // on top, inside the cycle (see [[upkeep]])
        () => Landing -> {
          val v = store.stageMerge(matched,
            change = _ => (Some(changes.replaced), changes.inserted))
          store.stageUpkeep(Landing, v).getOrElse(v)
        },
        // run-log append (TASK_HISTORY stand-in)
        () => RunLog -> logAppend(pin, batchTime, rowsLoaded, "SUCCEEDED")
      ) ++
        // registered materialized aggregates: refreshed by signed
        // application of the SAME consumed delta (IncrementalAgg) and
        // committed in the SAME manifest swap — the MV, the staging
        // history, and the stream offset can never disagree, and each
        // refresh costs the delta plus the group domain, never a landing
        // rescan
        config.aggregates.map { mv => () =>
          val tbl = mvTable(mv)
          tbl -> store.stage(tbl, graft.ops.IncrementalAgg.applyCdc(
            readAt(pin, tbl, mvSchema(mv)), cdc, mv.keys, mv.measures))
        } ++
        // COPY load-history ledger: the newly loaded file names join the
        // same commit, so "loaded" and "visible in the tables" are one
        // atomic fact
        Option.when(loadedFiles.nonEmpty) { () =>
          LoadHistory -> store.stageAppend(LoadHistory, pin.get(LoadHistory),
            spark.createDataFrame(
              loadedFiles.map(f => org.apache.spark.sql.Row(f, batchTime)).asJava,
              Schemas.loadHistory))
        }).toMap

      // ---- the atomic multi-table commit: committing landing advances the
      // stream; every table the cycle read must still be at `pin` ---------
      val readTables =
        Seq(Landing, Staging, RunLog, LoadHistory) ++ config.aggregates.map(mvTable)
      store.commit(staged + (Raw -> rawVersion),
        expect = readTables.map(t => t -> pin.get(t)).toMap)
      staged
    } finally {
      if (matched != null) matched.release()
      if (touched != null) touched.release()
      if (changes != null) changes.release()
    }

    upkeep(staged)
    afterCommit()
    rowsLoaded
  } catch {
    case e: Throwable =>
      recordFailure(batchTime, e)
      throw e
  }

  /** Bound the debt of the tables the cycle appended to: each one whose
    * committed version passes [[TableStore.stageUpkeep]]'s rule is
    * maintained, all of them in one commit that expects the cycle's own
    * versions. A refused commit (another writer moved a table since) is
    * skipped; the next cycle's versions carry the same debt and retry.
    * Landing is maintained by the same rule before the cycle's commit
    * instead: its committed version is the stream's offset, so each of
    * its committed versions is exactly one consumed batch. */
  private def upkeep(committed: Map[String, String]): Unit = {
    val maintained = Seq(Staging, RunLog, LoadHistory).flatMap(t =>
      committed.get(t).flatMap(store.stageUpkeep(t, _)).map(t -> _)).toMap
    if (maintained.nonEmpty)
      try store.commit(maintained, expect = maintained.map { case (t, _) =>
        t -> committed.get(t) })
      catch { case _: java.util.ConcurrentModificationException => () }
  }

  /** The COPY load-history ledger (file name → load batch time). */
  def loadHistory: DataFrame =
    store.readOrEmpty(LoadHistory, Schemas.loadHistory)

  private def mvTable(mv: MaterializedAggregate): String =
    s"${config.prefix}_mv_${mv.name}"

  /** The MV's schema is whatever [[graft.ops.IncrementalAgg.fullAggregate]]
    * produces over the base schema — derived from an empty frame so the
    * two can never drift. */
  private def mvSchema(mv: MaterializedAggregate) =
    graft.ops.IncrementalAgg.fullAggregate(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        config.baseSchema),
      mv.keys, mv.measures).schema

  /** Read a registered materialized aggregate (empty until its first
    * cycle — the first delta is all INSERT images, so the MV initializes
    * itself from the empty frame). */
  def aggregate(name: String): DataFrame = {
    val mv = config.aggregates.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"no registered aggregate '$name'; registered: ${
          config.aggregates.map(_.name).mkString(", ")}"))
    store.readOrEmpty(mvTable(mv), mvSchema(mv))
  }

  // -- verification reads (SURVEY.md §3.3) --------------------------------

  def raw: DataFrame = store.readOrEmpty(Raw, config.baseSchema)
  def landing: DataFrame = store.readOrEmpty(Landing, config.baseSchema)
  def staging: DataFrame = store.readOrEmpty(Staging, stagingSchema)
  /** The end-user current view (task 5): the committed staging version's
    * `current_flag = 'Y'` rows, so it can never disagree with it. Each
    * cycle appends its Y and N rows in separate files, so the filter
    * pushed into the scan skips the closed history's row groups. */
  def master: DataFrame =
    Scd2.currentView(staging, config.baseSchema.fieldNames.toSeq)

  /** Task history, latest first (`SCD-Automation.sql:116,147` — O2). */
  def taskHistory: DataFrame =
    store.readOrEmpty(RunLog, Schemas.runLog).orderBy(col("completed_time").desc)

  /** SHOW STREAMS (`SCD-Configuration Setup.sql:60`, `SCD-Automation.sql:18`
    * — D5): the CDC streams this pipeline maintains, with the landing
    * version their offset sits at. */
  def showStreams(): DataFrame = {
    import spark.implicits._
    Seq((s"${Landing}_cdc", Landing, store.manifest.getOrElse(Landing, "<unconsumed>")))
      .toDF("stream_name", "source_table", "consumed_version")
  }
}

object ScdPipeline {
  val Landing = "supplier_landing"
  val RunLog = "supplier_run_log"
}

/** Dimension parametrization: the reference pipeline is the supplier
  * dimension (`ScdConfig.supplier`), but any dimension with declared base
  * columns, business key(s), and SCD-tracked column(s) runs through the
  * same five-task cycle. */
case class ScdConfig(
    prefix: String,
    baseSchema: org.apache.spark.sql.types.StructType,
    businessKeys: Seq[String],
    trackedCols: Seq[String],
    /** columns whose change triggers a landing update (None = all
      * non-key columns, the reference behavior) */
    compareCols: Option[Seq[String]] = None,
    /** What to do when one batch carries the same business key twice.
      * [[DuplicatePolicy.Error]] (default) mirrors Snowflake's
      * nondeterministic-MERGE error; [[DuplicatePolicy.KeepOne]] keeps a
      * deterministic representative (min by full row) — duplicates left in
      * place would multiply landing rows and the cycle's CDC through the
      * merge join. */
    duplicatePolicy: DuplicatePolicy = DuplicatePolicy.Error,
    /** Materialized aggregates over the landing table, maintained
      * incrementally from each cycle's CDC delta
      * ([[graft.ops.IncrementalAgg]]) and committed atomically with the
      * cycle. Additive aggregates only (count + sums). */
    aggregates: Seq[MaterializedAggregate] = Nil) {
  require(businessKeys.nonEmpty, "businessKeys must be non-empty")
  /** The reference-style SCD match key: business key + tracked column
    * (`SCD-Automation.sql:85`). */
  def matchKeys: Seq[String] = businessKeys ++ trackedCols
  def table(suffix: String): String = s"${prefix}_$suffix"
}

object ScdConfig {
  /** The reference dimension. */
  val supplier: ScdConfig = ScdConfig(
    prefix = "supplier",
    baseSchema = Schemas.supplierBase,
    businessKeys = Seq("supplier_code"),
    trackedCols = Seq("supplier_state"))
}

/** A landing-table aggregate the pipeline maintains incrementally:
  * `keys` → `count(*) AS cnt` plus `sum(<m>) AS sum_<m>` per measure. */
case class MaterializedAggregate(
    name: String,
    keys: Seq[String],
    measures: Seq[String] = Nil) {
  require(name.matches("[a-zA-Z0-9_]+"), s"aggregate name must be [a-zA-Z0-9_]+: $name")
}

sealed trait DuplicatePolicy
object DuplicatePolicy {
  /** Fail the cycle — Snowflake raises on a MERGE where one target row
    * matches several source rows. */
  case object Error extends DuplicatePolicy
  /** Keep one deterministic representative per key (min by the full row —
    * arbitrary but stable across runs and engines). */
  case object KeepOne extends DuplicatePolicy
}
