package graft.core

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
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
  * `(file, pos)` tombstones — the data file's NAME plus the row's
  * position within it (Spark's parquet `_metadata.row_index`, stable
  * because version files are immutable) — in a parquet sidecar
  * (`_graft_dv`, `(file STRING, pos BIGINT)` plus `_SUCCESS`) inside the
  * version directory, and every data file is carried into the new
  * version verbatim. Deleting k rows therefore costs one predicate scan
  * plus O(k) metadata however the matches scatter across files, until
  * [[TableStore.purgeDeletes]] rewrites ONLY the files the DV names.
  *
  * A DV has one form, the driver-side value [[Tombstones]]: [[load]]
  * reads a version's sidecar on the driver (cached per version), DML
  * combines it with the delta-sized positions it adds ([[positions]]),
  * and [[write]] puts the result into the staged version with
  * parquet-hadoop's writer — no Spark job reads or writes a DV. Every
  * application of a DV (reads, the carry MERGE's touched slice, the
  * change feed) is the one keyed [[join]]: a broadcast hash join of the
  * scan against the tombstones' keys, so the data side never shuffles.
  * The key is one long per row, `(file id << 32) | position`
  * ([[RowKey]]), with the file id the name's index in the version's file
  * listing — a string key would cost every scanned row a path split and
  * a string hash.
  *
  * Keying by file NAME rather than full path is what makes carries
  * free: a version's part-file names are unique (Spark UUID part
  * naming) and byte-copies preserve them, so a DV rides through any
  * number of subsequent carry commits with no path rewriting — unlike
  * the stats sidecar, whose rows embed full paths and need remapping.
  * This is the deletion-vector design of Delta Lake and of Iceberg v2
  * positional delete files, reduced to its Spark-expressible core.
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

  /** The DV as a DataFrame `(file: string, pos: long)`, if present — for
    * inspecting a sidecar; the store itself works on [[load]]'s value.
    * Read with its fixed schema: inferring it would cost a footer-reading
    * Spark job. */
  def read(spark: SparkSession, dataDir: String): Option[DataFrame] =
    if (exists(dataDir))
      Some(spark.read.schema("file STRING, pos BIGINT").parquet(dvPath(dataDir).toString))
    else None

  /** The version's tombstones, empty without a DV. Tombstones naming no
    * file of the version's listing can match no row and are dropped. */
  def load(spark: SparkSession, dataDir: String): Tombstones =
    if (exists(dataDir)) loaded(spark, dataDir)._2 else Tombstones.empty

  /** Write `t` as the DV of the version at `dataDir` (which must not
    * have one yet): one parquet file, written on the driver — a DV is
    * metadata, kilobytes to megabytes — then `_SUCCESS`. An empty `t` is
    * not written: a DV that tombstones nothing would only tax reads. */
  def write(spark: SparkSession, t: Tombstones, dataDir: String): Unit =
    if (!t.isEmpty) {
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      val dir = dvPath(dataDir)
      Files.createDirectories(dir)
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message spark_schema { optional binary file (STRING); optional int64 pos; }")
      val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(
          dir.resolve(s"part-00000-${UUID.randomUUID()}.parquet").toUri))
        .withConf(spark.sparkContext.hadoopConfiguration).withType(schema).build()
      val groups = new SimpleGroupFactory(schema)
      try t.foreach((file, pos) =>
        writer.write(groups.newGroup().append("file", file).append("pos", pos)))
      finally writer.close()
      Files.createFile(dir.resolve("_SUCCESS"))
    }

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

  /** The rows of `df` (carrying the [[withPosition]] columns) as
    * tombstones: collected in one task, so `df` must be delta-sized. */
  def positions(df: DataFrame): Tombstones =
    Tombstones.of(df.select(fileNameOf(col("__dv_file")), col("__dv_pos"))
      .coalesce(1).collect().iterator.map(r => (r.getString(0), r.getLong(1))))

  /** The one application of tombstones: `df` (a scan of the version at
    * `dataDir`, with the [[withPosition]] columns) joined `how`
    * ("left_anti" drops the tombstoned rows, "left_semi" keeps only
    * them) against `t`'s [[RowKey]]s, broadcast as local rows. */
  def join(spark: SparkSession, df: DataFrame, t: Tombstones, dataDir: String,
      how: String): DataFrame =
    if (t.isEmpty && how == "left_anti") df
    else {
      val ids = if (exists(dataDir)) loaded(spark, dataDir)._1 else FileIds.of(dataDir)
      df.withColumn("__dv_key", RowKey.of(col("__dv_file"), col("__dv_pos"), ids))
        .join(broadcast(spark.createDataset(t.keys(ids).toSeq)(Encoders.scalaLong)
          .toDF("__dv_key")), Seq("__dv_key"), how)
        .drop("__dv_key")
    }

  /** Apply the version's DV to a scan of its files, then drop the
    * helper columns. `df` must be an unprojected file-source scan of the
    * version's files (see [[withPosition]]). No DV: the scan passes
    * through untouched, `_metadata` never referenced. */
  def applyTo(spark: SparkSession, df: DataFrame, dataDir: String): DataFrame =
    if (!exists(dataDir)) df
    else join(spark, withPosition(df), load(spark, dataDir), dataDir, "left_anti")
      .drop("__dv_file", "__dv_pos")

  /** The version's file ids and tombstones, read from the DV's parquet
    * files on the driver; the last few versions' are kept (versions
    * never change, so an entry never goes stale). */
  private def loaded(spark: SparkSession, dataDir: String): (FileIds, Tombstones) =
    cache.synchronized(Option(cache.get(dataDir))).getOrElse {
      val ids = FileIds.of(dataDir)
      val conf = spark.sparkContext.hadoopConfiguration
      val files = Files.list(dvPath(dataDir))
      val entry = try (ids, Tombstones.of(files.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).flatMap { f =>
          val reader = org.apache.parquet.hadoop.ParquetReader.builder(
              new org.apache.parquet.hadoop.example.GroupReadSupport(),
              new org.apache.hadoop.fs.Path(f.toUri))
            .withConf(conf).build()
          try Iterator.continually(reader.read()).takeWhile(_ != null)
            .map(g => (g.getString("file", 0), g.getLong("pos", 0)))
            .filter(t => ids.id(t._1) >= 0).toVector
          finally reader.close()
        }))
      finally files.close()
      cache.synchronized(cache.put(dataDir, entry))
      entry
    }

  private val cache = new java.util.LinkedHashMap[String, (FileIds, Tombstones)](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, (FileIds, Tombstones)]): Boolean = size() > 8
  }
}

/** A deletion vector's value: for each data-file name, its tombstoned
  * row positions, sorted and distinct, in a primitive array — no object
  * per tombstone. Immutable; combined on the driver. */
final class Tombstones private (byFile: Map[String, Array[Long]]) {
  def isEmpty: Boolean = byFile.isEmpty
  def size: Long = byFile.valuesIterator.map(_.length.toLong).sum
  /** The names of the files that hold tombstones. */
  def files: Set[String] = byFile.keySet
  private def at(file: String) = byFile.getOrElse(file, Array.emptyLongArray)

  /** Only the tombstones of the files in `names`. */
  def on(names: Set[String]): Tombstones = new Tombstones(byFile.filter(e => names(e._1)))

  /** Every tombstone of both. */
  def ++(that: Tombstones): Tombstones = new Tombstones((files ++ that.files)
    .map(f => f -> Tombstones.sorted(at(f) ++ that.at(f))).toMap)

  /** The tombstones not also in `that`. */
  def --(that: Tombstones): Tombstones = new Tombstones(byFile
    .map { case (f, ps) => f -> ps.filter(java.util.Arrays.binarySearch(that.at(f), _) < 0) }
    .filter(_._2.nonEmpty))

  private[core] def foreach(f: (String, Long) => Unit): Unit =
    byFile.foreach { case (file, ps) => ps.foreach(f(file, _)) }

  /** The [[RowKey]]s of the tombstones whose file `ids` lists. */
  private[core] def keys(ids: FileIds): Array[Long] = byFile.toArray.flatMap { case (f, ps) =>
    val id = ids.id(f).toLong
    if (id < 0) Array.emptyLongArray else ps.map(p => (id << 32) | p)
  }
}

object Tombstones {
  val empty: Tombstones = new Tombstones(Map.empty)

  /** The tombstones `(file, pos)`, in any order, duplicates allowed. */
  private[core] def of(rows: Iterator[(String, Long)]): Tombstones =
    new Tombstones(rows.toArray.groupMap(_._1)(_._2).map { case (f, ps) => f -> sorted(ps) })

  private def sorted(ps: Array[Long]): Array[Long] = ps.distinct.sorted
}

/** The data-file names of one version, numbered: a file's id is its
  * name's index in the sorted listing. [[key]] caches the last path it
  * resolved, so a scan (whose rows arrive file by file) pays one
  * byte-compare per row instead of a path split and a map lookup. */
final class FileIds private (names: Array[String]) extends Serializable {
  private val index: Map[String, Int] = names.zipWithIndex.toMap
  @transient private var last: (UTF8String, Int) = _

  /** The id of the file `name`, or -1 outside the listing. */
  def id(name: String): Int = index.getOrElse(name, -1)

  /** `(id << 32) | pos` for the file named by `path` (a path, URI or bare
    * name); a name outside the listing takes id -1, which no tombstone's
    * key carries. */
  def key(path: UTF8String, pos: Long): Long = {
    val cached = last
    val fileId = if (cached != null && cached._1 == path) cached._2 else {
      val s = path.toString
      val i = id(s.substring(s.lastIndexOf('/') + 1))
      last = (path.clone(), i)
      i
    }
    (fileId.toLong << 32) | pos
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
  * the file `path` names ([[FileIds.key]]). One long key makes the
  * tombstone join a long-keyed hash probe. */
final case class RowKey(path: Expression, pos: Expression, ids: FileIds)
    extends BinaryExpression {
  override def left: Expression = path
  override def right: Expression = pos
  override def dataType: DataType = LongType
  override protected def nullSafeEval(p: Any, i: Any): Any =
    ids.key(p.asInstanceOf[UTF8String], i.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fileIds", ids, classOf[FileIds].getName)
    defineCodeGen(ctx, ev, (p, i) => s"$ref.key($p, $i)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RowKey =
    copy(path = newLeft, pos = newRight)
}

object RowKey {
  def of(path: Column, pos: Column, ids: FileIds): Column =
    Bridge.column(RowKey(Bridge.expression(path), Bridge.expression(pos), ids))
}
