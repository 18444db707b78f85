package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.core.Schemas

/** SCD Type-2 merge: apply a CDC delta to the history (staging) table —
  * the heart of the reference (`SCD-Configuration Setup.sql:143-153`,
  * `SCD-Automation.sql:83-93`; SURVEY.md §2.3 J2).
  *
  * Reference semantics (faithful mode):
  *   - match key = (business key, tracked column) — the SCD column is
  *     deliberately part of the key ("SCD column of Interest:
  *     SUPPLIER_STATE", `SCD-Automation.sql:85`);
  *   - WHEN MATCHED AND action='DELETE' → close out: `end_date = batchTime`,
  *     `current_flag = 'N'`;
  *   - WHEN NOT MATCHED AND action='INSERT' → open version:
  *     `start_date = batchTime`, `end_date = NULL`, `current_flag = 'Y'`;
  *   - '''one timestamp per cycle''' — all rows touched in a cycle share
  *     `batchTime` (`SCD-Configuration Setup.sql:255-264`; SURVEY.md §4b.3).
  *
  * Faithful mode reproduces the reference's two documented quirks
  * (SURVEY.md §4b.1-2): a supplier returning to a prior tracked value
  * matches its closed-out historical row so no new version opens, and a
  * name-only change closes the current row without reopening it (the row
  * retires from MASTER).
  *
  * Corrected mode (`faithful = false`) restricts both branches to
  * `current_flag = 'Y'` rows, so closed-out history never swallows a
  * returning value — a new version is opened as standard SCD2 would.
  *
  * Scale: a cycle's CDC is small against an ever-growing history, so
  * the merge is a [[Plan]] whose parts are all delta-sized: the history
  * is streamed once through a semi-join against a broadcast of the CDC's
  * match keys ([[Plan.touched]]), or of the batch's business keys
  * ([[touchedBy]]), and every other part reads only those touched rows
  * and the CDC. The history is never shuffled or broadcast. [[merge]]
  * assembles the whole next history from the plan;
  * [[graft.pipeline.ScdPipeline]] applies it to a stored history as
  * tombstones plus appended files ([[graft.core.TableStore.stageMerge]]),
  * so a cycle writes only the rows it closes and opens.
  */
object Scd2 {

  /** Apply one CDC batch to the history table: the rows no DELETE image
    * closes, the closed re-images, and the opened versions — the whole
    * next history, assembled from [[plan]].
    *
    * @param staging   current history (base columns + start_date/end_date/
    *                  current_flag)
    * @param cdc       delta with `_action` (+ any other CDC metadata) columns
    * @param batchTime the single cycle timestamp
    * @param matchKeys business key + tracked column(s), reference-style
    */
  def merge(
      staging: DataFrame,
      cdc: DataFrame,
      batchTime: Timestamp,
      matchKeys: Seq[String],
      faithful: Boolean = true): DataFrame = {
    val p = plan(staging.columns.toSeq, cdc, batchTime, matchKeys, faithful)
    val touched = p.touched(staging)
    p.kept(staging)
      .unionByName(p.closed(p.toClose(touched)))
      .unionByName(p.opened(touched))
  }

  /** The history rows whose business key `batch` sends, streamed through
    * a semi-join against a broadcast of the batch's keys (equal as the
    * [[Plan]]'s match keys are: null-unsafe when `faithful`). Every image
    * of the batch's CDC carries one of those keys, so this is a superset
    * of [[Plan.touched]], and every part of the plan yields the same rows
    * on it; unlike [[Plan.touched]] it needs only the batch, so a stored
    * history can be touched before the CDC exists. */
  def touchedBy(batch: DataFrame, businessKeys: Seq[String], faithful: Boolean)(
      history: DataFrame): DataFrame =
    history.alias("__h").join(
      broadcast(batch.select(businessKeys.map(col): _*)).alias("__k"),
      businessKeys.map { k =>
        if (faithful) col(s"__h.$k") === col(s"__k.$k")
        else col(s"__h.$k") <=> col(s"__k.$k")
      }.reduce(_ && _), "left_semi")

  /** The delta-sized [[Plan]] of one cycle's merge into a history with
    * columns `historyCols`. */
  def plan(historyCols: Seq[String], cdc: DataFrame, batchTime: Timestamp,
      matchKeys: Seq[String], faithful: Boolean = true): Plan =
    new Plan(historyCols, cdc, batchTime, matchKeys, faithful)

  /** One cycle's merge in three delta-sized parts: the history rows the
    * CDC touches, the rows it closes (and their closed re-images), and the
    * versions it opens. Every part but [[touched]] and [[kept]] reads only
    * touched rows, so applied to stored history the merge costs one
    * streamed scan plus the delta. History frames may carry extra columns
    * (row positions); the row-selecting parts keep them, [[closed]] and
    * [[opened]] emit exactly `historyCols`. */
  final class Plan private[Scd2] (historyCols: Seq[String], cdc: DataFrame,
      batchTime: Timestamp, matchKeys: Seq[String], faithful: Boolean) {

    private val ts = lit(batchTime).cast(TimestampType)
    private val baseCols =
      historyCols.filterNot(Seq("start_date", "end_date", "current_flag").contains)

    // Match-key equality: faithful mode keeps Snowflake's null-unsafe `=`
    // (a NULL tracked value never matches, so NULL-keyed images re-insert
    // every cycle — the reference's observable behavior); corrected mode
    // matches null-safely so NULL is one value like any other.
    private def keyCond(left: String, right: String): Column =
      matchKeys.map { k =>
        if (faithful) col(s"$left.$k") === col(s"$right.$k")
        else col(s"$left.$k") <=> col(s"$right.$k")
      }.reduce(_ && _)

    /** Corrected mode reads only the rows current before the merge. */
    private def matchable(side: String): Column =
      if (faithful) lit(true) else col(s"$side.current_flag") === "Y"

    private def images(action: String): DataFrame =
      cdc.filter(col(Schemas.cdcActionCol) === action)

    /** The history rows some CDC image matches — the only history rows
      * the merge reads: one semi-join against a broadcast of the CDC's
      * match keys (both actions, duplicates and all: a semi-join needs no
      * `distinct`), so the history streams past map-side. */
    def touched(history: DataFrame): DataFrame =
      history.alias("__h").join(
        broadcast(cdc.select(matchKeys.map(col): _*)).alias("__k"),
        keyCond("__h", "__k"), "left_semi")

    /** WHEN MATCHED AND action='DELETE': `rows` the join `how` keeps
      * against the DELETE images' keys. In faithful mode closed-out rows
      * match too, so their end date is re-stamped (SURVEY.md §4b.1). */
    private def closeJoin(rows: DataFrame, how: String): DataFrame =
      rows.alias("__h").join(
        broadcast(images("DELETE").select(matchKeys.map(col): _*)).alias("__k"),
        keyCond("__h", "__k") && matchable("__h"), how)

    /** Of `rows`, the ones this cycle closes. */
    def toClose(rows: DataFrame): DataFrame = closeJoin(rows, "left_semi")

    /** Of `rows`, the ones this cycle leaves as they are. */
    def kept(rows: DataFrame): DataFrame = closeJoin(rows, "left_anti")

    /** `rows` closed out: `end_date = batchTime`, `current_flag = 'N'`. */
    def closed(rows: DataFrame): DataFrame =
      rows.select(historyCols.map {
        case "end_date" => ts.as("end_date")
        case "current_flag" => lit("N").as("current_flag")
        case c => col(c)
      }: _*)

    /** WHEN NOT MATCHED AND action='INSERT': the versions this cycle
      * opens, given the `touched` history. In faithful mode "matched"
      * means any history row (closed-out rows swallow returning values —
      * SURVEY.md §4b.1); corrected mode anti-joins only against rows
      * current before the merge. Every row an INSERT image can match is a
      * touched row, and touched rows are delta-sized, so they are the
      * broadcast side. */
    def opened(touched: DataFrame): DataFrame =
      images("INSERT").select(baseCols.map(col): _*).alias("__i")
        .join(broadcast(touched.alias("__h").filter(matchable("__h"))
            .select(matchKeys.map(k => col(s"__h.$k")): _*)).alias("__t"),
          keyCond("__i", "__t"), "left_anti")
        .select(historyCols.map {
          case "start_date" => ts.as("start_date")
          case "end_date" => lit(null).cast(TimestampType).as("end_date")
          case "current_flag" => lit("Y").as("current_flag")
          case c => col(c)
        }: _*)

    /** The rows a stored history appends for this cycle: the closed
      * re-images in one partition, then the opened versions in the CDC's
      * own partitions — a write lays the cycle's N rows and Y rows out in
      * separate files (parquet row-group statistics on `current_flag` then
      * skip the closed history for current-row reads), and a large batch
      * still writes its opened versions in parallel. */
    def appended(touched: DataFrame): DataFrame =
      closed(toClose(touched)).coalesce(1).union(opened(touched))
  }

  /** INSERT OVERWRITE INTO master: the current view of the history
    * (`SCD-Configuration Setup.sql:160-161`; P1+P2+D4). */
  def currentView(staging: DataFrame, baseCols: Seq[String]): DataFrame =
    staging.filter(col("current_flag") === "Y").select(baseCols.map(col): _*)

  /** Late-arriving correction splice — backfill a fact that arrives with
    * an effective timestamp IN THE PAST: each late record
    * `(keys…, corrected attrs…, tsCol)` finds its ENCLOSING version
    * (`start_date <= ts < end_date`, open versions unbounded) and splits
    * it at `ts`: `[start, ts)` keeps the old attributes and closes with
    * flag 'N'; `[ts, old end)` carries the corrected attributes and
    * inherits the enclosing row's end_date and flag (so splicing into the
    * open version leaves exactly one open row). A late ts equal to the
    * enclosing version's start replaces that version's attributes in
    * place — no empty segment is emitted. Late columns beyond the keys
    * and `tsCol` overwrite their staging columns; staging columns absent
    * from the late batch pass through from the enclosing version.
    *
    * [[merge]] can't express this: the cycle merge stamps everything with
    * `batchTime`, which is by definition ≥ every existing boundary. This
    * is the operator behind "the upstream system re-sent January with
    * corrections in March".
    *
    * At most ONE late record per key per call (callers loop batches —
    * each splice re-establishes the disjoint-interval invariant the next
    * batch relies on).
    *
    * Scale: the late batch broadcasts; the history streams map-side
    * through one left join and three narrow projections — the 100 TB
    * history is never shuffled, same shape as the cycle merge itself. */
  def spliceLate(
      staging: DataFrame,
      late: DataFrame,
      keys: Seq[String],
      tsCol: String = "effective_ts"): DataFrame = {
    val passCols = staging.columns.toSeq
    val attrCols = late.columns.filterNot(c => keys.contains(c) || c == tsCol)
    require(attrCols.forall(passCols.contains),
      s"late columns ${attrCols.mkString(",")} must exist in staging")
    val t = staging.alias("__t")
    val l = broadcast(late).alias("__l")
    val keyCond = keys.map(k => col(s"__t.$k") === col(s"__l.$k")).reduce(_ && _)
    val enclosing = col(s"__t.start_date") <= col(s"__l.$tsCol") &&
      (col(s"__t.end_date").isNull || col(s"__l.$tsCol") < col(s"__t.end_date"))
    val joined = t.join(l, keyCond && enclosing, "left")
    val matched = col(s"__l.$tsCol").isNotNull
    val boundary = col(s"__l.$tsCol") === col(s"__t.start_date")
    val untouched = joined.filter(!matched)
      .select(passCols.map(c => col(s"__t.$c").as(c)): _*)
    // [start, ts): old attributes, closed at the correction point
    val before = joined.filter(matched && !boundary)
      .select(passCols.map {
        case c @ "end_date" => col(s"__l.$tsCol").as(c)
        case c @ "current_flag" => lit("N").as(c)
        case c => col(s"__t.$c").as(c)
      }: _*)
    // [ts, old end): corrected attributes, inheriting end_date + flag
    val after = joined.filter(matched)
      .select(passCols.map {
        case c if attrCols.contains(c) => col(s"__l.$c").as(c)
        case c @ "start_date" => col(s"__l.$tsCol").as(c)
        case c => col(s"__t.$c").as(c)
      }: _*)
    untouched.unionByName(before).unionByName(after)
  }

  /** Point-in-time (as-of) join — THE consumption pattern of an SCD2
    * history: each fact row picks the dimension version that was valid at
    * its timestamp (`start_date <= ts` and `ts < end_date`, open versions
    * unbounded). Left join: facts with no valid version at their time
    * (unknown key, or ts before the first version) keep null dimension
    * columns. The SCD2 invariant (versions of a key have disjoint
    * [start, end) ranges) guarantees at most one match per fact.
    *
    * Plan shape: an EQUI join on the business key with the range predicate
    * as a residual filter — the hash/sort-merge join machinery (and AQE
    * skew handling) applies untouched, so this scales exactly like any
    * key join; the range never degenerates into a cross product. History
    * is often the small side when facts dominate — pass
    * `broadcastHistory = true` to hint that explicitly when the dimension
    * is KNOWN to fit an executor. The default is false: a forced broadcast
    * hint bypasses Spark's size threshold, so defaulting it on would OOM
    * on exactly the large histories this engine targets; with no hint AQE
    * still picks a broadcast join whenever the history measures small at
    * runtime, so small-dimension callers lose nothing. */
  def pointInTime(
      facts: DataFrame,
      history: DataFrame,
      tsCol: String,
      keys: Seq[String],
      broadcastHistory: Boolean = false): DataFrame = {
    val f = facts.alias("__f")
    val h0 = history.alias("__h")
    val h = if (broadcastHistory) broadcast(h0) else h0
    val keyCond = keys.map(k => col(s"__f.$k") === col(s"__h.$k")).reduce(_ && _)
    val rangeCond = col(s"__f.$tsCol") >= col("__h.start_date") &&
      (col("__h.end_date").isNull || col(s"__f.$tsCol") < col("__h.end_date"))
    val dimCols = history.columns.filterNot(keys.contains)
    f.join(h, keyCond && rangeCond, "left")
      .select(facts.columns.map(c => col(s"__f.$c")) ++
        dimCols.map(c => col(s"__h.$c")): _*)
  }
}
