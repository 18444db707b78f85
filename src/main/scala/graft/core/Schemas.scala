package graft.core

import org.apache.spark.sql.types._

/** Schema registry for the SCD pipeline tables.
  *
  * Mirrors the four-tier architecture of the reference
  * (`SCD-Configuration Setup.sql:14-51`): RAW (volatile ingest buffer),
  * LANDING (current snapshot), STAGING (SCD Type-2 history — the system of
  * record), MASTER (end-user current view).
  *
  * Type mapping (SURVEY.md §1.2): Snowflake NUMBER → LongType, VARCHAR(n) →
  * StringType, TIMESTAMP_NTZ → TimestampType with the session time zone
  * pinned to UTC (build.sbt sets `spark.sql.session.timeZone=UTC`), which is
  * observationally identical to NTZ and keeps parquet interop simple.
  */
/** Typed row models for the supplier dimension (SURVEY.md §1.2: a typed
  * `Dataset[SupplierVersion]` view of the staging table for compile-time
  * field checks where that helps; the engine itself stays schema-dynamic). */
case class Supplier(
    supplier_key: Long,
    supplier_code: String,
    supplier_name: String,
    supplier_state: String)

case class SupplierVersion(
    supplier_key: Long,
    supplier_code: String,
    supplier_name: String,
    supplier_state: String,
    start_date: java.sql.Timestamp,
    end_date: Option[java.sql.Timestamp],
    current_flag: String)

object Schemas {

  /** Base supplier columns, shared by raw / landing / master
    * (`SCD-Configuration Setup.sql:14-29,45-51`). */
  val supplierBase: StructType = StructType(Seq(
    StructField("supplier_key", LongType),
    StructField("supplier_code", StringType),
    StructField("supplier_name", StringType),
    StructField("supplier_state", StringType) // SCD-tracked column
  ))

  val raw: StructType = supplierBase
  val landing: StructType = supplierBase

  /** Staging = base + SCD2 version columns
    * (`SCD-Configuration Setup.sql:32-41`). */
  val staging: StructType = StructType(supplierBase.fields ++ Seq(
    StructField("start_date", TimestampType),
    StructField("end_date", TimestampType),
    StructField("current_flag", StringType) // 'Y' | 'N'
  ))

  /** CDC metadata columns appended by [[graft.ops.SnapshotCdc]] — the Spark
    * equivalent of Snowflake stream columns METADATA$ACTION /
    * METADATA$ISUPDATE / METADATA$ROW_ID
    * (`SCD-Configuration Setup.sql:130-137`). */
  val cdcActionCol = "_action"     // 'INSERT' | 'DELETE'
  val cdcIsUpdateCol = "_is_update" // true when part of an update pair
  val cdcRowIdCol = "_row_id"       // stable per business key across versions

  def withCdcColumns(base: StructType): StructType = StructType(
    base.fields ++ Seq(
      StructField(cdcActionCol, StringType),
      StructField(cdcIsUpdateCol, BooleanType),
      StructField(cdcRowIdCol, StringType)
    ))

  /** Run-log schema — our stand-in for Snowflake TASK_HISTORY
    * (`SCD-Automation.sql:116,147`). */
  val runLog: StructType = StructType(Seq(
    StructField("cycle_id", LongType),
    StructField("batch_time", TimestampType),
    StructField("rows_loaded", LongType),
    StructField("completed_time", TimestampType),
    StructField("status", StringType)
  ))

  /** COPY load-history ledger — one row per stage file ever loaded, the
    * stand-in for Snowflake's per-table load history that makes a re-run of
    * COPY with PURGE=FALSE skip already-loaded files
    * (`SCD-Configuration Setup.sql:183-185`). */
  val loadHistory: StructType = StructType(Seq(
    StructField("file_name", StringType),
    StructField("batch_time", TimestampType)
  ))

  /** SCD2 version columns appended to any dimension's base schema. */
  def scd2(base: StructType): StructType = StructType(base.fields ++ Seq(
    StructField("start_date", TimestampType),
    StructField("end_date", TimestampType),
    StructField("current_flag", StringType)
  ))
}
