package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SCD Type 4 — the current + history TABLE PAIR: the dimension itself
  * stays Type 1 (one row per key, overwritten in place — [[Merge.upsert]],
  * the reference's landing merge at `SCD-Configuration Setup.sql:99-119`),
  * and every overwritten version is appended to a SEPARATE history table
  * stamped with the cycle timestamp. Completes the SCD family alongside
  * Type 1 ([[Merge.upsert]]), Type 2 ([[Scd2]]), Type 3 / Type 6
  * ([[Scd3]]).
  *
  * Type 4 is the right shape when the current table must stay
  * slim-and-hot (every fact join hits it) while full history is a cold
  * audit concern: the history table is append-only (a cheap, immutable
  * write each cycle — no flag flips, no row closes), and historical
  * queries reconstruct any point in time from history + current without
  * touching the hot path.
  *
  * Scale: both outputs are computed from ONE broadcast of the per-cycle
  * delta. The history append is `dimension LEFT-STREAM map-side INNER
  * JOIN broadcast(delta)` filtered to changed rows — delta-sized output,
  * zero shuffle of the dimension; the current rewrite is
  * [[Merge.upsert]]'s broadcast two-branch plan (PlanSpec-pinned to never
  * sort-merge-join the target).
  */
object Scd4 {

  /** Apply one cycle's `delta` to the `(current, history)` pair.
    *
    * Returns `(newCurrent, historyAppend)`:
    *   - `newCurrent` — [[Merge.upsert]] of the delta (match on `keys`,
    *     update on change, insert when absent, no deletes);
    *   - `historyAppend` — the PRIOR version of every matched-AND-changed
    *     row, with `superseded_at = ts`. Fresh inserts have no prior and
    *     append nothing; callers append this to their history table.
    *
    * Change detection matches [[Merge.upsert]]: null-propagating `!=`
    * over non-key columns by default (`nullSafe = true` for
    * IS DISTINCT FROM), so current and history can never disagree about
    * whether a cycle touched a row. */
  def apply(
      current: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      ts: Timestamp,
      nullSafe: Boolean = false): (DataFrame, DataFrame) = {
    val cols = current.columns.toSeq
    require(delta.columns.toSet == cols.toSet,
      s"delta columns ${delta.columns.mkString(",")} must match current ${cols.mkString(",")}")
    val t = current.alias("__t")
    val d = broadcast(delta).alias("__s")
    val joinCond = keys.map(k => col(s"__t.$k") === col(s"__s.$k")).reduce(_ && _)
    val changed = Merge.changedCond(cols, keys, None, nullSafe)("__t", "__s")
    val historyAppend = t.join(d, joinCond, "inner")
      .filter(coalesce(changed, lit(false)))
      .select(cols.map(c => col(s"__t.$c").as(c)): _*)
      .withColumn("superseded_at", lit(ts))
    (Merge.upsert(current, delta, keys, nullSafe = nullSafe), historyAppend)
  }

  /** Reconstruct the dimension as of `asOf` from the pair: for each key,
    * the earliest history version superseded AFTER `asOf` (that version
    * was live at `asOf`); keys with no such history row are answered by
    * `current` — minus keys first inserted after `asOf` (no history row
    * and no presence yet). Callers that track insert timestamps on
    * `current` can filter those; with the reference's timestamp-free
    * landing schema, keys present in neither history-before nor
    * history-after resolve to their current row. */
  def asOf(current: DataFrame, history: DataFrame, keys: Seq[String],
      asOf: Timestamp): DataFrame = {
    val cols = current.columns.toSeq
    // deterministic tie-break: two history rows for one key CAN share a
    // superseded_at (two cycles run with the same timestamp), and
    // row_number over a tied sort picks a winner per shuffle — order by
    // the remaining columns after the timestamp so the reconstruction
    // is stable across runs and engines
    val tieBreak = cols.filterNot(keys.contains).map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("superseded_at") +: tieBreak: _*)
    val fromHistory = history
      .filter(col("superseded_at") > lit(asOf))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(cols.map(col): _*)
    val fromCurrent = current
      .join(fromHistory.select(keys.map(col): _*), keys, "left_anti")
    fromHistory.unionByName(fromCurrent)
  }
}
