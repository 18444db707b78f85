package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Schemas

/** Join-based MERGE rewrite (no Delta/Iceberg in this environment, so MERGE
  * INTO is re-expressed as joins + per-row resolution — SURVEY.md §2.3 J1).
  * By default the source is broadcast and the target streamed map-side
  * ([[upsert]]'s plan shape); `broadcastSource = false` falls back to the
  * textbook full-outer join.
  *
  * A stored target is merged in two delta-sized steps instead of being
  * rewritten: [[matched]] selects the target rows whose key the source
  * sends (one streamed scan of the target), and [[upsertChanges]] joins
  * those rows with the source into the merge's CDC. The store then
  * tombstones the replaced rows and appends the INSERT images
  * ([[graft.core.TableStore.stageMerge]]), so no target byte is rewritten
  * ([[graft.pipeline.ScdPipeline]]'s task 3).
  *
  * Semantics reproduced from the reference's landing merge
  * (`SCD-Configuration Setup.sql:99-119`, `SCD-Automation.sql:57-74`):
  *
  *   - match on equality of `keys`;
  *   - WHEN MATCHED AND <changed> THEN UPDATE all non-key columns from the
  *     source;
  *   - WHEN NOT MATCHED THEN INSERT the source row;
  *   - no DELETE branch — target rows never leave (`SURVEY.md §4b.5`).
  *
  * Change detection is '''null-propagating''' by default, faithful to
  * Snowflake `!=` (`SCD-Configuration Setup.sql:104-108`): a NULL on either
  * side of any compared column makes that disjunct UNKNOWN, and a fully
  * UNKNOWN condition means no update (SURVEY.md §2.2 P3, §4b.4). Pass
  * `nullSafe = true` for `IS DISTINCT FROM` change detection instead.
  *
  * Scale: the source (a per-cycle delta file) is broadcast by default —
  * at 100 TB the target dimension shuffles for nothing otherwise; a small
  * delta against a huge dimension must be a broadcast join so the target is
  * streamed map-side with zero exchange. Disable for delta ~ target sized
  * merges and let AQE pick a sort-merge join.
  */
object Merge {

  /** Upsert `source` into `target`. Column order of the result follows
    * `target`. Duplicate keys in `source` are a caller error (Snowflake
    * raises on nondeterministic MERGE; we document rather than detect).
    *
    * Plan shape with `broadcastSource = true` (the 100 TB case — per-cycle
    * delta ≪ dimension): the target is NEVER shuffled. A full-outer join
    * (the textbook MERGE rewrite) can only execute as a sort-merge join —
    * two full shuffles + sorts of the dimension per cycle. Instead:
    *
    *   1. resolve  = target LEFT JOIN broadcast(delta)   — matched+changed
    *      rows take delta values, everything else passes through (map-side,
    *      zero shuffle);
    *   2. hitKeys  = target LEFT-SEMI broadcast(delta)    — which delta keys
    *      already exist (output is delta-sized, also map-side);
    *   3. inserts  = delta ANTI hitKeys                    — both tiny.
    *
    * Two narrow scans of the dimension, no exchange. With
    * `broadcastSource = false` (delta ~ target sized) the classic full-outer
    * rewrite is used and AQE picks the join strategy.
    */
  def upsert(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      compareCols: Option[Seq[String]] = None,
      nullSafe: Boolean = false,
      broadcastSource: Boolean = true): DataFrame = {

    val cols = columnsOf(target, source)
    val changed = changedCond(cols, keys, compareCols, nullSafe) _

    if (broadcastSource) {
      val d = broadcast(source.withColumn("__s_present", lit(true))).alias("__s")
      val t = target.alias("__t")
      val joinCond = keys.map(k => col(s"__t.$k") === col(s"__s.$k")).reduce(_ && _)

      // matched-and-changed → delta values; else target row unchanged
      val useSource = col("__s.__s_present").isNotNull &&
        coalesce(changed("__t", "__s"), lit(false))
      val resolved = t.join(d, joinCond, "left_outer")
        .select(cols.map { c =>
          when(useSource, col(s"__s.$c")).otherwise(col(s"__t.$c")).as(c)
        }: _*)

      val hitKeys = target.select(keys.map(col): _*)
        .join(broadcast(source.select(keys.map(col): _*)), keys, "left_semi")
        .distinct()
      val inserts = source.join(broadcast(hitKeys), keys, "left_anti")

      resolved.unionByName(inserts.select(cols.map(col): _*))
    } else {
      val t = target.withColumn("__t_present", lit(true)).alias("__t")
      val s = source.withColumn("__s_present", lit(true)).alias("__s")
      val joinCond = keys.map(k => col(s"__t.$k") === col(s"__s.$k")).reduce(_ && _)
      val joined = t.join(s, joinCond, "full_outer")

      val tPresent = col("__t.__t_present").isNotNull
      val sPresent = col("__s.__s_present").isNotNull
      // Insert (target absent) or matched-and-changed → source row wins;
      // matched-unchanged (or UNKNOWN change condition) → target row kept.
      val useSource = sPresent && (!tPresent || coalesce(changed("__t", "__s"), lit(false)))

      joined.select(cols.map { c =>
        when(useSource, col(s"__s.$c")).otherwise(col(s"__t.$c")).as(c)
      }: _*)
    }
  }

  /** J1's matched side as a row selection of `target`: its rows whose key
    * `source` sends, streamed through a semi-join against a broadcast of
    * the source's keys, so only source-sized rows leave the scan. NULL
    * keys never match. It only selects rows, so it serves as
    * [[graft.core.TableStore.touch]]'s `select`. */
  def matched(source: DataFrame, keys: Seq[String])(target: DataFrame): DataFrame =
    target.alias("__t").join(broadcast(source.select(keys.map(col): _*)).alias("__k"),
      keys.map(k => col(s"__t.$k") === col(s"__k.$k")).reduce(_ && _), "left_semi")

  /** The delta of one upsert ([[upsertChanges]]), checkpointed once: the
    * CDC in the stream's shape, and the two halves a carry MERGE applies
    * ([[graft.core.TableStore.stageMerge]]). [[release]] frees the
    * checkpoint once every reader has run. */
  final class Changes private[Merge] (images: DataFrame, cols: Seq[String],
      carried: Seq[String]) {
    /** The CDC, in [[SnapshotCdc.diff]]'s shape. */
    def cdc: DataFrame = images.drop(carried: _*)
    /** The matched rows a DELETE image replaces, with the extra columns
      * they carried (a carry MERGE's tombstones, R). */
    def replaced: DataFrame = images
      .filter(col(Schemas.cdcActionCol) === "DELETE").select((cols ++ carried).map(col): _*)
    /** The INSERT images, in the target's columns (a carry MERGE's
      * appended rows, A). */
    def inserted: DataFrame =
      images.filter(col(Schemas.cdcActionCol) === "INSERT").select(cols.map(col): _*)
    def release(): Unit = graft.operators.Dedup.releaseCheckpoint(images)
  }

  /** The delta [[upsert]] applies to a target, in [[SnapshotCdc.diff]]'s
    * shape, as a stream on the target shows it
    * (`SCD-Configuration Setup.sql:220-232`): a changed key gives
    * DELETE(old) + INSERT(new), both `_is_update`; a new key an INSERT.
    * `matched` is the target's [[matched]] rows — source-sized, so it is
    * broadcast back to the source, whose one left-outer pass is the CDC,
    * checkpointed once. Columns of `matched` beyond the source's (a
    * store's row positions) ride along on the images of their key, so
    * [[Changes.replaced]] names the rows to tombstone without another
    * join. NULL keys never match, as in [[upsert]]. */
  def upsertChanges(
      matched: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      compareCols: Option[Seq[String]] = None): Changes = {
    val cols = matched.columns.toSeq.filter(source.columns.toSet)
    require(source.columns.toSet == cols.toSet, s"source columns " +
      s"${source.columns.mkString(",")} must match target ${matched.columns.mkString(",")}")
    val carried = matched.columns.toSeq.filterNot(cols.toSet)
    val joined = source.alias("__s").join(broadcast(matched).alias("__t"),
      keys.map(k => col(s"__s.$k") === col(s"__t.$k")).reduce(_ && _), "left_outer")
    val isNew = col(s"__t.${keys.head}").isNull
    val changed = coalesce(
      changedCond(cols, keys, compareCols, nullSafe = false)("__t", "__s"), lit(false))
    def image(side: String, action: String) =
      struct(cols.map(c => col(s"$side.$c").as(c)) :+ lit(action).as(Schemas.cdcActionCol): _*)
    val images = joined.filter(isNew || changed)
      .select(Seq(explode(when(isNew, array(image("__s", "INSERT")))
          .otherwise(array(image("__s", "INSERT"), image("__t", "DELETE")))).as("__c"),
        (!isNew).as(Schemas.cdcIsUpdateCol)) ++ carried.map(c => col(s"__t.$c").as(c)): _*)
      .select(Seq(col("__c.*"), col(Schemas.cdcIsUpdateCol),
        SnapshotCdc.rowId(keys.map(k => col(s"__c.$k"))).as(Schemas.cdcRowIdCol)) ++
        carried.map(col): _*)
      .localCheckpoint(true)
    new Changes(images, cols, carried)
  }

  private def columnsOf(target: DataFrame, source: DataFrame): Seq[String] = {
    require(source.columns.toSet == target.columns.toSet, s"source columns " +
      s"${source.columns.mkString(",")} must match target ${target.columns.mkString(",")}")
    target.columns.toSeq
  }

  /** A matched row's change condition between its `tSide` and `sSide`
    * images over `compareCols` (default: every non-key column):
    * null-propagating `!=` like Snowflake's, so a NULL on either side
    * makes that disjunct UNKNOWN, or `IS DISTINCT FROM` when `nullSafe`. */
  private[ops] def changedCond(cols: Seq[String], keys: Seq[String],
      compareCols: Option[Seq[String]], nullSafe: Boolean)(
      tSide: String, sSide: String): Column =
    compareCols.getOrElse(cols.filterNot(keys.contains))
      .map { c =>
        if (nullSafe) !(col(s"$tSide.$c") <=> col(s"$sSide.$c"))
        else col(s"$tSide.$c") =!= col(s"$sSide.$c")
      }
      .reduceOption(_ || _)
      .getOrElse(lit(false))
}
