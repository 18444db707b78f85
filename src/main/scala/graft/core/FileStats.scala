package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file statistics sidecar: the micro-partition-metadata layer of
  * Snowflake-class engines (min/max zone maps + optional bloom
  * filters), for the plain-parquet versions [[TableStore]] writes.
  *
  * Why Spark needs it: Spark's parquet reader already skips ROW GROUPS
  * via footer min/max, but deciding which FILES to plan still opens
  * every footer — at 100 TB that is millions of S3 reads per query
  * before the first task launches. This sidecar is one kilobyte-scale
  * parquet table per version holding, per data file: row count and,
  * per designated column, min / max / null count, plus an optional
  * bloom filter for point lookups on columns where a clustered layout
  * (and hence tight min/max ranges) is not available. Scan planning
  * becomes one sidecar read + a filter — file-count metadata, zero
  * data-file footers — and the kept-file list feeds an ordinary pruned
  * parquet scan.
  *
  * Correctness contract: stats can only SKIP work, never change
  * results — [[readPrunedRange]]/[[readPrunedPoint]] re-apply the
  * exact predicate after the pruned read, so a stale or lossy sidecar
  * (or bloom false positives, which are expected) costs extra I/O,
  * never wrong rows. A missing sidecar degrades to a full filtered
  * scan. The sidecar lives INSIDE the version directory (`_`-prefixed,
  * so normal parquet reads never see it), which makes it atomic with
  * the version commit and vacuumed with the version.
  *
  * The bloom filter is plain Spark expressions end-to-end (no UDF, no
  * driver state): k = `bloom_k` bit positions per value via
  * `xxhash64(value, seed)` mod `bloom_bits`, OR-folded into 64-bit
  * words per file, stored as a sparse `map<word_idx, bits>`. The probe
  * recomputes the same positions against the sidecar's own `bloom_k` /
  * `bloom_bits` columns, so filter parameters are self-describing and
  * a probe can never use mismatched hashing.
  */
object FileStats {

  /** Sidecar directory name inside a version dir. The leading
    * underscore hides it from parquet directory listings. */
  val StatsDir = "_graft_filestats"

  private def statsPath(dataDir: String) =
    java.nio.file.Paths.get(dataDir, StatsDir)

  /** Compute and write the sidecar for the parquet directory `dataDir`.
    * Cost: one column-pruned scan of the version for min/max/nulls plus
    * one per bloom column — O(new version), never O(corpus); callers
    * stage a version first, then stat it, then commit.
    *
    * `bloomBitsLog2 = 16` gives a 64 Kibit (8 KiB dense) filter per
    * file; at the 128 MiB-file / ~1M-row scale that is ~0.5 bits/row —
    * sized for low-occupancy point-lookup columns. Raise it for files
    * with more distinct values per bloom column. */
  def write(spark: SparkSession, dataDir: String, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil, bloomBitsLog2: Int = 16,
      bloomK: Int = 3): Unit =
    writeStatsDf(computeStats(spark.read.parquet(dataDir), statsCols,
      bloomCols, bloomBitsLog2, bloomK), dataDir)

  /** Per-file stats rows for any file-backed DataFrame (the sidecar
    * schema, before writing). Exposed within core so surgical DML
    * ([[TableStore.deleteRange]]) can stat ONLY its rewritten files and
    * carry untouched files' rows over — keeping maintenance O(changed
    * files), the whole point of file-level DML. */
  private[core] def computeStats(df: DataFrame, statsCols: Seq[String],
      bloomCols: Seq[String], bloomBitsLog2: Int, bloomK: Int): DataFrame = {
    require(bloomBitsLog2 >= 6 && bloomBitsLog2 <= 30,
      s"bloomBitsLog2 must be in [6, 30], got $bloomBitsLog2")
    require(bloomK >= 1, s"bloomK must be >= 1, got $bloomK")
    val m = 1L << bloomBitsLog2
    val aggs =
      count(lit(1)).as("row_cnt") +: statsCols.flatMap { c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
      }
    val base = df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
    val withBlooms = bloomCols.foldLeft(base) { (acc, c) =>
      val words = df.filter(col(c).isNotNull)
        .select(input_file_name().as("file"),
          explode(bitPositions(col(c), lit(bloomK), lit(m))).as("__bit"))
        .select(col("file"), (col("__bit") / 64).cast("int").as("__word"),
          call_function("shiftleft", lit(1L),
            (col("__bit") % 64).cast("int")).as("__mask"))
        .groupBy("file", "__word")
        .agg(call_function("bit_or", col("__mask")).as("__bits"))
        .groupBy("file")
        .agg(map_from_entries(collect_list(
          struct(col("__word"), col("__bits")))).as(s"bloom_$c"))
      // left join: a file whose bloom column is entirely NULL has no
      // bloom row; its null map correctly reports "contains nothing"
      acc.join(words, Seq("file"), "left")
    }
    withBlooms
      .withColumn("bloom_bits", lit(m))
      .withColumn("bloom_k", lit(bloomK))
  }

  /** The parameters a sidecar describes itself with: its statted
    * columns (the `min_*` names), its bloom columns (the `bloom_*`
    * names minus the `bloom_bits`/`bloom_k` sizing columns) and its
    * bloom sizing — what a rewrite needs to stat new files the way the
    * source version was statted. None for an empty sidecar, which has
    * no row to read the sizing from. */
  private[core] case class Params(statsCols: Seq[String],
      bloomCols: Seq[String], bloomBitsLog2: Int, bloomK: Int)

  private[core] def params(rows: DataFrame): Option[Params] =
    rows.select("bloom_bits", "bloom_k").take(1).headOption.map { head =>
      Params(
        rows.columns.collect {
          case n if n.startsWith("min_") => n.stripPrefix("min_") }.toSeq,
        rows.columns.collect {
          case n if n.startsWith("bloom_") && n != "bloom_bits" &&
            n != "bloom_k" => n.stripPrefix("bloom_") }.toSeq,
        java.lang.Long.numberOfTrailingZeros(head.getLong(0)),
        head.getInt(1))
    }

  private[core] def writeStatsDf(stats: DataFrame, dataDir: String): Unit =
    stats.coalesce(1)
      .write.mode("overwrite").parquet(statsPath(dataDir).toString)

  /** The k bit positions of `v` in an m-bit filter. `k` and `m` are
    * Columns so the probe side can bind them to the sidecar's own
    * self-describing parameter columns. */
  private def bitPositions(v: Column, k: Column, m: Column): Column =
    transform(sequence(lit(0), k - 1), i => pmod(xxhash64(v, i), m))

  /** The sidecar as a DataFrame, if present. */
  def read(spark: SparkSession, dataDir: String): Option[DataFrame] =
    if (java.nio.file.Files.exists(statsPath(dataDir).resolve("_SUCCESS")))
      Some(spark.read.parquet(statsPath(dataDir).toString))
    else None

  /** Sidecar predicate: file may hold a row with `c` in [lo, hi]
    * (inclusive). A null min/max (all-null or statless file) can match
    * no non-null value → pruned. */
  def mayContainRange(c: String, lo: Column, hi: Column): Column =
    coalesce(col(s"max_$c") >= lo && col(s"min_$c") <= hi, lit(false))

  /** Sidecar predicate: file may hold a row with `c = v` (v non-null,
    * and already of the column's STORED type — cast it first, as
    * [[readPrunedPoint]] does, or the bloom hash will not match the
    * write side's and may false-negative).
    * Composes whichever evidence the sidecar carries for `c` — min/max
    * bracketing when `range`, the bloom test when `bloom` (all-null
    * files have a null map, test negative on every word lookup, and are
    * pruned). With neither, every file is kept: no evidence, no
    * skipping, still correct. */
  def mayContainPoint(c: String, v: Column, range: Boolean,
      bloom: Boolean): Column = {
    val rangeOk =
      if (range) mayContainRange(c, v, v) else lit(true)
    if (!bloom) rangeOk
    else {
      val positions = bitPositions(v, col("bloom_k"), col("bloom_bits"))
      val bloomOk = forall(positions, p =>
        coalesce(element_at(col(s"bloom_$c"), (p / 64).cast("int")), lit(0L))
          .bitwiseAND(call_function("shiftleft", lit(1L),
            (p % 64).cast("int"))) =!= lit(0L))
      rangeOk && bloomOk
    }
  }

  /** Kept-file list for an arbitrary sidecar predicate. The collect is
    * bounded by the version's FILE count (metadata, not data — the same
    * cardinality any split planner materializes); at cluster scale this
    * list goes straight into the scan's path list. Returns None when no
    * sidecar exists (caller must full-scan). */
  def prunedFiles(spark: SparkSession, dataDir: String,
      keep: Column): Option[Seq[String]] =
    read(spark, dataDir).map(
      _.filter(keep).select("file").collect().map(_.getString(0)).toSeq)

  /** Range scan with file skipping: read only files whose [min, max]
    * overlaps [lo, hi], then apply the predicate exactly. Falls back to
    * a full filtered scan if the version has no sidecar. */
  def readPrunedRange(spark: SparkSession, dataDir: String, c: String,
      lo: Column, hi: Column,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    readKept(spark, dataDir, prunedFiles(spark, dataDir,
      mayContainRange(c, lo, hi)), dataSchema)
      .filter(col(c) >= lo && col(c) <= hi)

  /** Point lookup with file skipping: min/max bracketing plus the bloom
    * filter when the sidecar carries one for `c` (`v` non-null; equality
    * to null is never true). The probe literal is cast to the column's
    * STORED type before hashing, making the bloom test type-safe by
    * construction: the write side hashed the column's native type, so an
    * int literal probed against a bigint column would otherwise hash
    * differently, false-negative on every word, and silently prune files
    * that DO contain the value — wrong results, not just wasted I/O. The
    * stored type comes from the sidecar's own `min_c` column when present
    * (min of the column ⇒ exact type) and from the data schema for
    * bloom-only sidecars. The cast is a `try_cast`: a literal the stored
    * type cannot represent becomes null, matches nothing, and returns
    * empty (a plain cast would throw under ANSI mode — a malformed probe
    * is an empty lookup, not a query error). */
  def readPrunedPoint(spark: SparkSession, dataDir: String, c: String,
      v: Column,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val sidecar = read(spark, dataDir)
    val cols = sidecar.map(_.columns.toSet).getOrElse(Set.empty)
    val storedType = sidecar
      .flatMap(_.schema.find(_.name == s"min_$c").map(_.dataType))
      .orElse(
        if (cols.contains(s"bloom_$c"))
          dataSchema.getOrElse(spark.read.parquet(dataDir).schema)
            .find(_.name == c).map(_.dataType)
        else None)
    val vv = storedType.map(v.try_cast).getOrElse(v)
    readKept(spark, dataDir, prunedFiles(spark, dataDir,
      mayContainPoint(c, vv, cols.contains(s"min_$c"), cols.contains(s"bloom_$c"))),
      dataSchema)
      .filter(col(c) === vv)
  }

  /** General pruned scan: `keep` is any sidecar predicate (compose
    * [[mayContainRange]] / [[mayContainPoint]] with `&&` — evidence
    * intersects at the metadata level, so a file survives only if EVERY
    * conjunct may match); `predicate` is the exact row predicate
    * re-applied after the pruned read. */
  def readPrunedWhere(spark: SparkSession, dataDir: String, keep: Column,
      predicate: Column,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    readKept(spark, dataDir, prunedFiles(spark, dataDir, keep), dataSchema)
      .filter(predicate)

  /** Scan of the kept files, with the version's deletion vector (if
    * any) applied — pruning must compose with merge-on-read deletes or
    * a pruned scan of a DV'd version would resurrect tombstoned rows.
    * The full DV is applied to whatever subset of files was planned:
    * tombstones of unplanned files simply never match the anti-join. */
  private def readKept(spark: SparkSession, dataDir: String,
      kept: Option[Seq[String]],
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    // an evolved version's declared union schema must govern every
    // branch here, or a generationally-mixed file set reads with
    // whichever file Spark samples first (see TableStore.dataScan)
    def reader = dataSchema.fold(spark.read)(s => spark.read.schema(s))
    kept match {
      case None => // no sidecar: full scan
        DeleteVectors.applyTo(spark, reader.parquet(dataDir), dataDir)
      case Some(Nil) => // nothing can match: empty relation, zero I/O
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          dataSchema.getOrElse(spark.read.parquet(dataDir).schema))
      case Some(files) =>
        // basePath keeps hive-partition columns resolvable when the
        // version is partitioned and we hand Spark leaf files directly
        DeleteVectors.applyTo(spark,
          reader.option("basePath", dataDir).parquet(files: _*), dataDir)
    }
  }
}
