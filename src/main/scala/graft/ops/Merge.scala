package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Schemas

/** Join-based MERGE rewrite (no Delta/Iceberg in this environment, so MERGE
  * INTO is re-expressed as joins + per-row resolution — SURVEY.md §2.3 J1).
  * By default the source is broadcast and the target streamed map-side
  * ([[upsert]]'s plan shape); `broadcastSource = false` falls back to the
  * textbook full-outer join. [[upsertChanges]] also returns the CDC of
  * the merge, from one delta-sized join.
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

  /** The two outputs of [[upsertChanges]]: the target's next version and
    * the checkpointed CDC it is built from; [[release]] frees the
    * checkpoint once both are written. */
  final case class Changes(next: DataFrame, cdc: DataFrame) {
    def release(): Unit = graft.operators.Dedup.releaseCheckpoint(cdc)
  }

  /** [[upsert]] that also returns the delta it applies, in
    * [[SnapshotCdc.diff]]'s shape, as a stream on the target shows it
    * (`SCD-Configuration Setup.sql:220-232`): a changed key gives
    * DELETE(old) + INSERT(new), both `_is_update`; a new key an INSERT.
    * The target is streamed once through a broadcast semi-join on the
    * source's keys; its matched, source-sized rows are broadcast back to
    * the source, whose one left-outer pass is the CDC, checkpointed once.
    * `next` (target minus the DELETE keys, plus the INSERT images) reads
    * the checkpoint. NULL keys never match, as in [[upsert]]. */
  def upsertChanges(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      compareCols: Option[Seq[String]] = None): Changes = {
    val cols = columnsOf(target, source)
    val matched = target.join(broadcast(source.select(keys.map(col): _*)), keys, "left_semi")
    val joined = source.alias("__s").join(broadcast(matched).alias("__t"),
      keys.map(k => col(s"__s.$k") === col(s"__t.$k")).reduce(_ && _), "left_outer")
    val isNew = col(s"__t.${keys.head}").isNull
    val changed = coalesce(
      changedCond(cols, keys, compareCols, nullSafe = false)("__t", "__s"), lit(false))
    def image(side: String, action: String) =
      struct(cols.map(c => col(s"$side.$c").as(c)) :+ lit(action).as(Schemas.cdcActionCol): _*)
    val cdc = joined.filter(isNew || changed)
      .select(explode(when(isNew, array(image("__s", "INSERT")))
          .otherwise(array(image("__s", "INSERT"), image("__t", "DELETE")))).as("__c"),
        (!isNew).as(Schemas.cdcIsUpdateCol))
      .select(col("__c.*"), col(Schemas.cdcIsUpdateCol),
        SnapshotCdc.rowId(keys.map(k => col(s"__c.$k"))).as(Schemas.cdcRowIdCol))
      .localCheckpoint(true)
    def imagesOf(action: String) = cdc.filter(col(Schemas.cdcActionCol) === action)
    val next = target
      .join(broadcast(imagesOf("DELETE").select(keys.map(col): _*)), keys, "left_anti")
      .select(cols.map(col): _*)
      .unionByName(imagesOf("INSERT").select(cols.map(col): _*))
    Changes(next, cdc)
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
