package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Merge-on-read deletion vectors: the third deletion tier of the
  * store, next to full copy-on-write ([[TableStore.deleteWhere]]) and
  * surgical file rewrite ([[TableStore.deleteRange]]).
  *
  * A DV commit touches NO data bytes: the deleted rows are recorded as
  * `(file, pos)` pairs — the data file's NAME plus the row's position
  * within it (Spark's parquet `_metadata.row_index`, stable because
  * version files are immutable) — in a one-file parquet sidecar inside
  * the version directory, and every data file is carried into the new
  * version verbatim. Deleting k rows from a 100 TB table therefore
  * costs one predicate scan plus O(k) metadata, independent of how the
  * matches scatter across files — the case where [[TableStore.deleteRange]]
  * would rewrite everything (an unclustered predicate overlaps every
  * file's zone map) and [[TableStore.deleteWhere]] would rewrite the
  * corpus. The price moves to reads: every scan of a DV'd version
  * anti-joins the sidecar (broadcast-hash LEFT ANTI — no shuffle of the
  * data side), until [[TableStore.purgeDeletes]] materializes the
  * deletions by rewriting ONLY the files the DV names. The join key is
  * one long per row, `(file id << 32) | position` ([[RowKey]]), with the
  * file id the name's index in the version's file listing — a string key
  * would cost every scanned row a path split and a string hash.
  *
  * Keying by file NAME rather than full path is what makes carries
  * free: a version's part-file names are unique (Spark UUID part
  * naming) and byte-copies preserve them, so a DV rides through any
  * number of subsequent carry commits with no path rewriting — unlike
  * the stats sidecar, whose rows embed full paths and need remapping.
  *
  * This is the deletion-vector design of the public lakehouse formats
  * (Delta Lake's deletion vectors, Iceberg v2 positional delete files),
  * reduced to its Spark-expressible core: position-keyed tombstones
  * applied by an anti-join at scan time.
  */
object DeleteVectors {

  /** Sidecar directory name inside a version dir. The leading
    * underscore hides it from parquet directory listings, so plain
    * readers of the version never see tombstones as data. */
  val DvDir = "_graft_dv"

  private def dvPath(dataDir: String) = Paths.get(dataDir, DvDir)

  /** Whether `dataDir` carries a (complete) deletion vector. */
  def exists(dataDir: String): Boolean =
    Files.exists(dvPath(dataDir).resolve("_SUCCESS"))

  /** The DV as a DataFrame `(file: string, pos: long)`, if present. Read
    * with its fixed schema: inferring it would cost every DV'd read a
    * footer-reading Spark job. */
  def read(spark: SparkSession, dataDir: String): Option[DataFrame] =
    if (exists(dataDir))
      Some(spark.read.schema(Schema).parquet(dvPath(dataDir).toString))
    else None

  /** Write `(file, pos)` tombstones as the version's DV. One file: a
    * DV is metadata — kilobytes to megabytes — and a single object
    * keeps the scan-time sidecar read one round trip. */
  def write(dv: DataFrame, dataDir: String): Unit =
    dv.select(col("file"), col("pos"))
      .coalesce(1).write.mode("overwrite").parquet(dvPath(dataDir).toString)

  /** The file-NAME component of a file path or URI. */
  def fileNameOf(pathCol: Column): Column =
    substring_index(pathCol, "/", -1)

  /** The scan plus explicit `(__dv_file, __dv_pos)` columns captured
    * from the hidden `_metadata` struct: the row's file path as the
    * scan reports it (a per-file constant, so capturing it costs no
    * per-row string work; [[fileNameOf]] turns it into the name a DV
    * records) and its position in that file. Capture must happen
    * directly above the file scan (filters are fine, joins/projections
    * are not): metadata columns don't reliably resolve through other
    * operators, and above a join with another parquet relation
    * `_metadata` would be ambiguous anyway. */
  def withPosition(df: DataFrame): DataFrame =
    df.withColumn("__dv_file", col("_metadata.file_path"))
      .withColumn("__dv_pos", col("_metadata.row_index"))

  /** Anti-join `df` (a scan of the version at `dataDir` carrying the
    * [[withPosition]] columns) against tombstones `(file, pos)`:
    * broadcast, keyed by [[RowKey]]. */
  def antiJoin(df: DataFrame, dv: DataFrame, dataDir: String): DataFrame = {
    val ids = FileIds.of(dataDir)
    keyedAntiJoin(df, ids, dv.select(RowKey.of(col("file"), col("pos"), ids, -2)))
  }

  private def keyedAntiJoin(df: DataFrame, ids: FileIds, keys: DataFrame): DataFrame =
    df.withColumn("__dv_key", RowKey.of(col("__dv_file"), col("__dv_pos"), ids, -1))
      .join(broadcast(keys.toDF("__dv_key")), Seq("__dv_key"), "left_anti")
      .drop("__dv_key")

  /** Apply the version's DV to a scan of its files, then drop the
    * helper columns. `df` must be an unprojected file-source scan of the
    * version's files (see [[withPosition]]). No DV: the scan passes
    * through untouched, `_metadata` never referenced. The tombstones'
    * keys are read on the driver and broadcast as local rows: a version
    * is immutable, so they are computed once per version ([[localKeys]])
    * and a read pays no Spark job for them. */
  def applyTo(spark: SparkSession, df: DataFrame, dataDir: String): DataFrame =
    if (!exists(dataDir)) df
    else {
      val (ids, keys) = localKeys(spark, dataDir)
      keyedAntiJoin(withPosition(df), ids,
        spark.createDataset(keys.toSeq)(org.apache.spark.sql.Encoders.scalaLong).toDF())
        .drop("__dv_file", "__dv_pos")
    }

  /** The version's file ids and its tombstones' [[RowKey]]s, read from
    * the DV's parquet file on the driver; the last few versions' are
    * kept (versions never change, so an entry never goes stale). */
  private def localKeys(spark: SparkSession, dataDir: String): (FileIds, Array[Long]) =
    keyCache.synchronized(Option(keyCache.get(dataDir))).getOrElse {
      val ids = FileIds.of(dataDir)
      val conf = spark.sparkContext.hadoopConfiguration
      val keys = Files.list(dvPath(dataDir)).iterator().asScala.toArray
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .flatMap { f =>
          val reader = org.apache.parquet.hadoop.ParquetReader.builder(
              new org.apache.parquet.hadoop.example.GroupReadSupport(),
              new org.apache.hadoop.fs.Path(f.toUri))
            .withConf(conf).build()
          try Iterator.continually(reader.read()).takeWhile(_ != null)
            .map(g => ids.key(UTF8String.fromString(g.getString("file", 0)),
              g.getLong("pos", 0), -2))
            .toArray
          finally reader.close()
        }
      keyCache.synchronized(keyCache.put(dataDir, (ids, keys)))
      (ids, keys)
    }

  private val keyCache = new java.util.LinkedHashMap[String, (FileIds, Array[Long])](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, (FileIds, Array[Long])]): Boolean = size() > 8
  }

  private val Schema = "file STRING, pos BIGINT"
}

/** The data-file names of one version, numbered: a file's id is its
  * name's index in the sorted listing. [[key]] caches the last path it
  * resolved, so a scan (whose rows arrive file by file) pays one
  * byte-compare per row instead of a path split and a map lookup. */
final class FileIds private (names: Array[String]) extends Serializable {
  private val index: Map[String, Int] = names.zipWithIndex.toMap
  @transient private var last: (UTF8String, Int) = _

  /** `(id << 32) | pos` for the file named by `path` (a path, URI or bare
    * name); a name outside the listing takes id `unknown`. */
  def key(path: UTF8String, pos: Long, unknown: Int): Long = {
    val cached = last
    val id = if (cached != null && cached._1 == path) cached._2 else {
      val s = path.toString
      val id = index.getOrElse(s.substring(s.lastIndexOf('/') + 1), -1)
      last = (path.clone(), id)
      id
    }
    ((if (id < 0) unknown else id).toLong << 32) | pos
  }

  override def toString: String = s"FileIds(${names.length})"
}

object FileIds {
  /** The parquet files under `dataDir`, sidecar directories excluded. */
  def of(dataDir: String): FileIds = {
    val root = Paths.get(dataDir)
    val walk = Files.walk(root)
    try new FileIds(walk.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !root.relativize(p).iterator().asScala.exists(_.toString.startsWith("_")))
      .map(_.getFileName.toString).toArray.sorted)
    finally walk.close()
  }
}

/** A DV row key, `(file id << 32) | position`, for the row at `pos` of
  * the file `path` names ([[FileIds.key]]). Data rows and tombstones
  * resolve names outside the listing to different ids (-1 and -2), so
  * they never match each other. One long key makes the tombstone join a
  * long-keyed hash probe. */
final case class RowKey(path: Expression, pos: Expression, ids: FileIds,
    unknown: Int) extends BinaryExpression {
  override def left: Expression = path
  override def right: Expression = pos
  override def dataType: DataType = LongType
  override protected def nullSafeEval(p: Any, i: Any): Any =
    ids.key(p.asInstanceOf[UTF8String], i.asInstanceOf[Long], unknown)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fileIds", ids, classOf[FileIds].getName)
    defineCodeGen(ctx, ev, (p, i) => s"$ref.key($p, $i, $unknown)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RowKey =
    copy(path = newLeft, pos = newRight)
}

object RowKey {
  def of(path: Column, pos: Column, ids: FileIds, unknown: Int): Column =
    Bridge.column(RowKey(Bridge.expression(path), Bridge.expression(pos), ids, unknown))
}
