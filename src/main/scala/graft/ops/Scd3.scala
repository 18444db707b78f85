package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD Type 3 (previous-value columns) and the Type 6 current-value
  * overlay — the two remaining members of the slowly-changing-dimension
  * family around the reference's Type 2 core (`SCD-Configuration
  * Setup.sql:122-158` is Type 2; Type 1 is [[Merge.upsert]], the
  * landing merge of `setup.sql:99-119`).
  *
  * Type 3 keeps ONE level of history as a sibling column: when a tracked
  * column changes, the old value moves to `<col>_prev` and the new value
  * overwrites in place; untracked columns overwrite Type-1 style. No row
  * is ever added for a change — the dimension stays one row per key,
  * which is why Type 3 is the right shape when queries only ever ask
  * "current vs immediately-prior" (e.g. re-bucketing a feature after a
  * taxonomy change) and the full [[Scd2]] audit trail would be dead
  * weight.
  *
  * Scale: identical plan shape to [[Merge.upsert]]'s broadcast form —
  * the per-cycle delta broadcasts, the dimension is NEVER shuffled
  * (resolve = target LEFT JOIN broadcast(delta), inserts = delta ANTI
  * semi-hits), so a 100 TB dimension streams map-side through the merge
  * exactly like the Type 1/Type 2 paths.
  */
object Scd3 {

  /** Apply a delta `source` to a Type 3 `target`.
    *
    * `target` carries `<col>_prev` for every tracked column; `source` is
    * a plain delta WITHOUT prev columns (they are derived here).
    * Per-column semantics on a key match:
    *   - tracked column changed  → `<col>_prev` = old value, col = new;
    *   - tracked column same     → both columns keep their values (the
    *     prev survives earlier cycles — Type 3 history is "last DISTINCT
    *     value", not "value one cycle ago");
    *   - untracked column        → overwritten from the source (Type 1).
    * Unmatched source rows insert with null prevs; unmatched target rows
    * pass through untouched (no DELETE branch, like the reference's
    * merges).
    *
    * Change detection is null-propagating Snowflake `!=` by default
    * (`nullSafe = true` for IS DISTINCT FROM), matching [[Merge.upsert]].
    */
  def merge(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      trackedCols: Seq[String],
      nullSafe: Boolean = false): DataFrame = {
    val srcCols = source.columns.toSeq
    require(trackedCols.forall(srcCols.contains), "tracked cols must exist in source")
    val prevOf = trackedCols.map(c => c -> s"${c}_prev").toMap
    def changed(c: String): Column =
      if (nullSafe) !(col(s"__t_$c") <=> col(s"__s_$c"))
      else col(s"__t_$c") =!= col(s"__s_$c")

    val t = target.columns.foldLeft(target)((d, c) => d.withColumnRenamed(c, s"__t_$c"))
    val s0 = srcCols.foldLeft(source)((d, c) => d.withColumnRenamed(c, s"__s_$c"))
    val s = broadcast(s0)
    val joinCond = keys.map(k => col(s"__t_$k") === col(s"__s_$k")).reduce(_ && _)
    val matchedFlag = keys.map(k => col(s"__s_$k").isNotNull).reduce(_ && _)

    // resolve pass: dimension streams through one left join against the
    // broadcast delta; every output column is a per-row CASE
    val resolved = t.join(s, joinCond, "left").select(
      target.columns.toSeq.map { c =>
        val out =
          if (keys.contains(c)) col(s"__t_$c")
          else if (prevOf.contains(c)) // a tracked column
            when(matchedFlag && changed(c), col(s"__s_$c"))
              .otherwise(col(s"__t_$c"))
          else if (prevOf.values.exists(_ == c)) { // a *_prev column
            val base = c.stripSuffix("_prev")
            when(matchedFlag && changed(base), col(s"__t_$base"))
              .otherwise(col(s"__t_$c"))
          } else if (srcCols.contains(c)) // untracked, present in source
            when(matchedFlag, col(s"__s_$c")).otherwise(col(s"__t_$c"))
          else col(s"__t_$c") // target-only column passes through
        out.as(c)
      }: _*)

    // inserts: delta keys absent from the dimension, null prevs
    val hitKeys = t.select(keys.map(k => col(s"__t_$k").as(k)): _*)
    val inserts = s0
      .join(broadcast(hitKeys),
        keys.map(k => col(s"__s_$k") === col(k)).reduce(_ && _), "left_anti")
      .select(target.columns.toSeq.map { c =>
        (if (srcCols.contains(c)) col(s"__s_$c")
         else lit(null)).cast(target.schema(c).dataType).as(c)
      }: _*)
    resolved.unionByName(inserts)
  }

  /** Seed a Type 3 dimension from an initial full snapshot: every
    * `<col>_prev` starts null. */
  def init(snapshot: DataFrame, trackedCols: Seq[String]): DataFrame =
    trackedCols.foldLeft(snapshot)((d, c) =>
      d.withColumn(s"${c}_prev",
        lit(null).cast(snapshot.schema(c).dataType)))

  /** SCD Type 6 overlay: a Type 2 staging table (the [[Scd2.merge]]
    * output) gains `<col>_current` columns carrying each key's CURRENT
    * value on every historical row — the 1+2+3 hybrid that lets
    * historical fact joins group by today's attribute without a second
    * join at query time.
    *
    * The current-values relation is one slim row per key (filter
    * `current_flag = 'Y'`, project keys + tracked), LEFT-joined back on
    * the key: a key whose history holds no open row (possible in
    * faithful mode, where a non-tracked change closes a row without
    * reopening) carries null currents.
    *
    * Scale: the join is keyed exactly like the staging table's own merge
    * key, so with the staging table stored bucketed on it
    * ([[graft.core.TableStore]]'s `stageBucketed` layout) BOTH sides
    * arrive pre-partitioned and the overlay adds no exchange beyond the
    * slim current side's. Refreshing after a cycle only needs the rows of
    * keys the cycle touched — the same delta-scoped rewrite as the merge
    * itself — not a full-table rewrite.
    */
  def scd6(
      staging: DataFrame,
      keys: Seq[String],
      trackedCols: Seq[String],
      currentFlagCol: String = "current_flag"): DataFrame = {
    val cur = staging.filter(col(currentFlagCol) === "Y")
      .select(keys.map(col) ++
        trackedCols.map(c => col(c).as(s"${c}_current")): _*)
    staging.join(cur, keys, "left")
  }
}
