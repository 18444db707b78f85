package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Schemas

/** Table-stream (CDC) emulation — the one genuinely custom piece of the
  * reference's surface (SURVEY.md §2.7 W1).
  *
  * Snowflake's `CREATE STREAM ... ON TABLE landing`
  * (`SCD-Configuration Setup.sql:58`) exposes the delta between the last
  * consumption offset and the current table version as rows with metadata
  * columns, with two load-bearing semantics reproduced here:
  *
  *   - '''Update = DELETE(old image) + INSERT(new image) pair''' with
  *     `METADATA$ISUPDATE = TRUE` and a shared, version-stable
  *     `METADATA$ROW_ID` (`SCD-Configuration Setup.sql:221-232`).
  *   - '''Advance-on-consume''': DML over the stream moves the offset;
  *     the data is read exactly once (`SCD-Automation.sql:142`).
  *
  * [[diff]] derives that delta from two versions of the source table. The
  * pipeline does not: its cycle takes the delta from the landing MERGE
  * itself ([[Merge.upsertChanges]], same rows, same [[rowId]]); [[diff]]
  * serves the queries that compare two stored snapshots. Its key join is
  * `=`, so a NULL key never pairs with itself: a NULL-key row in both
  * versions comes out as a DELETE plus an INSERT, neither `_is_update`.
  *
  * Scale: the diff join shuffles both versions on the key unless both are
  * stored bucketed on it ([[graft.core.TableStore.stageBucketed]]), in
  * which case it is a co-partitioned join with no exchange; AQE handles
  * skew.
  */
object SnapshotCdc {

  /** Pure snapshot diff (J3 in SURVEY.md §2.3): emits
    *   - INSERT(_is_update=false) for keys only in `curr`;
    *   - DELETE(_is_update=false) for keys only in `prev`;
    *   - DELETE(old)+INSERT(new) with _is_update=true for keys present in
    *     both whose non-key columns differ (null-safely);
    *   - nothing for unchanged keys.
    * Output = base columns + `_action` + `_is_update` + `_row_id`.
    * One full-outer join feeds both output branches. */
  def diff(prev: DataFrame, curr: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = curr.columns.toSeq
    val p = prev.withColumn("__p_present", lit(true)).alias("__p")
    val c = curr.withColumn("__c_present", lit(true)).alias("__c")
    val joinCond = keys.map(k => col(s"__p.$k") === col(s"__c.$k")).reduce(_ && _)
    val joined = p.join(c, joinCond, "full_outer")

    val pPresent = col("__p.__p_present").isNotNull
    val cPresent = col("__c.__c_present").isNotNull
    val valueChanged = cols.filterNot(keys.contains)
      .map(n => !(col(s"__p.$n") <=> col(s"__c.$n")))
      .reduceOption(_ || _).getOrElse(lit(false))

    def sideRowId(side: String) = rowId(keys.map(k => col(s"$side.$k")))

    val inserts = joined
      .filter(cPresent && (!pPresent || valueChanged))
      .select(cols.map(n => col(s"__c.$n").as(n)) ++ Seq(
        lit("INSERT").as(Schemas.cdcActionCol),
        pPresent.as(Schemas.cdcIsUpdateCol),
        sideRowId("__c").as(Schemas.cdcRowIdCol)): _*)

    val deletes = joined
      .filter(pPresent && (!cPresent || valueChanged))
      .select(cols.map(n => col(s"__p.$n").as(n)) ++ Seq(
        lit("DELETE").as(Schemas.cdcActionCol),
        cPresent.as(Schemas.cdcIsUpdateCol),
        sideRowId("__p").as(Schemas.cdcRowIdCol)): _*)

    inserts.unionByName(deletes)
  }

  /** `_row_id` of a row with business key `keys`: an md5, stable across
    * versions like the reference's ROW_ID, that every engine (the DuckDB
    * oracle too) computes identically. */
  def rowId(keys: Seq[Column]): Column = md5(concat(keys.map(keyPart): _*))

  /** One key's part of the row-id preimage: `<length>:<value>`, or `~` for
    * NULL. Length prefixes keep the concatenation decodable whatever the
    * values hold, and `~` cannot start a prefixed part, so distinct keys
    * (NULLs included) never share a preimage. */
  private def keyPart(k: Column): Column = {
    val s = k.cast("string")
    coalesce(concat(length(s).cast("string"), lit(":"), s), lit("~"))
  }
}
