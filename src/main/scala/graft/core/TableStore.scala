package graft.core

import java.nio.charset.StandardCharsets
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat, count, lit, max, min, sum}
import org.apache.spark.sql.types.StructType

/** Versioned, parquet-backed multi-table store with atomic multi-table
  * commits.
  *
  * Why it exists: the environment has no ACID table format (no
  * Delta/Iceberg/Hudi jars under /opt/spark/jars), but the reference's
  * semantics demand two things a bare parquet directory can't give us
  * (SURVEY.md §4, §7.5):
  *
  *   1. '''Read-your-snapshot consistency''' — a pipeline cycle reads and
  *      rewrites the same logical tables; overwriting a parquet dir that is
  *      also an input of the running plan is undefined behavior.
  *   2. '''Atomic multi-table commit''' — the CDC stream's
  *      advance-on-consume contract ("Stream data once used will be GONE
  *      permanently", `SCD-Automation.sql:142`) couples the stream's
  *      advance (landing's commit: the offset is landing's version) to
  *      the staging write: both must land, or neither.
  *
  * Design: every table write goes to a fresh immutable version directory
  * (`<root>/<table>/v<nnnnn>-<uuid>`); a single root-level `_manifest` file
  * maps table → current version and is replaced with an atomic rename. A
  * commit of N tables is one manifest swap, so readers always see a
  * consistent cross-table snapshot and a crash mid-cycle leaves the previous
  * manifest fully intact (write-ahead versions become garbage, never
  * corruption).
  *
  * Scale note (100 TB): this is exactly the metadata-pointer design of
  * log-structured table formats — data files are immutable, commits are a
  * single small-file swap, so the scheme carries to an object store
  * unchanged (rename→putIfAbsent on the manifest key / a metastore CAS).
  * Version dirs can be partitioned parquet; readers prune normally.
  *
  * Concurrency: commits take an exclusive cross-process lock on the
  * manifest and merge from the FRESH on-disk state, so writers to
  * disjoint tables compose; same-table conflicts are detected against
  * the writer's pinned snapshot and REFUSED
  * (`ConcurrentModificationException`) instead of silently lost — see
  * [[commit]]. Single-writer-per-table remains the performance
  * assumption; violating it is loud, not corrupting.
  */
class TableStore(val root: String, spark: SparkSession) {

  private val rootPath: Path = Paths.get(root)
  Files.createDirectories(rootPath)
  private def manifestPath: Path = rootPath.resolve("_manifest")

  /** One read and parse of the manifest file: (table → current
    * version, table → superseded versions). A caller that needs both
    * halves takes them from one call, so they describe the same commit. */
  private def readManifest(): (Map[String, String], Map[String, Seq[String]]) =
    if (!Files.exists(manifestPath)) (Map.empty, Map.empty)
    else {
      val lines = Files.readAllLines(manifestPath, StandardCharsets.UTF_8)
        .asScala.toSeq.filter(_.nonEmpty)
      val current = lines.filterNot(_.startsWith("#")).map { line =>
        val i = line.indexOf('\t')
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap
      val hist = lines.filter(_.startsWith("#hist\t")).map { line =>
        val f = line.split('\t'); (f(1), f(2))
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      (current, hist)
    }

  /** table → current version dir name. Lines starting with `#` are
    * commit-history records ([[history]]), not mappings. */
  def manifest: Map[String, String] = readManifest()._1

  /** table → superseded committed versions, oldest first (current NOT
    * included). Recorded as `#hist` lines in the SAME manifest file, so
    * history and the current mapping move in one atomic swap — a
    * version is in history iff it was really committed, which is what
    * lets [[vacuum]] retain genuine time-travel targets while still
    * sweeping crashed write-ahead garbage (whose versions never reached
    * any manifest). Bounded to the last [[MaxHistory]] per table. */
  def history: Map[String, Seq[String]] = readManifest()._2

  /** committed versions of a table, oldest first, current last — the
    * time-travel index (unlike the raw directory listing, this never
    * contains crashed write-ahead versions). One manifest read, so a
    * commit landing mid-call cannot drop the version it superseded. */
  def committedVersions(table: String): Seq[String] = {
    val (current, hist) = readManifest()
    hist.getOrElse(table, Seq.empty) ++ current.get(table).toSeq
  }

  private val MaxHistory = 32

  def exists(table: String): Boolean = manifest.contains(table)

  private def versionDir(table: String, version: String): Path =
    rootPath.resolve(table).resolve(version)

  /** Current data path for a table (immutable snapshot — safe to keep
    * reading while later commits land). */
  def currentPath(table: String): Option[String] =
    manifest.get(table).map(v => versionDir(table, v).toString)

  /** Read the current version (catalog-aware for bucketed versions).
    * Fails if the table was never committed. */
  def read(table: String): DataFrame = readResolved(table, currentVersion(table))

  /** The table's current version; throws if it was never committed. */
  private def currentVersion(table: String): String =
    manifest.getOrElse(table,
      throw new IllegalStateException(s"table '$table' does not exist in $root"))

  /** Resolve one (table, version) to its DataFrame — the shared read
    * body behind [[read]] and [[Snapshot.read]] (catalog-aware, DV
    * anti-join applied). */
  private[core] def readResolved(table: String, v: String): DataFrame =
    catalogNameIfBucketed(table, v).map(spark.table)
      .getOrElse {
        val dir = versionDir(table, v)
        DeleteVectors.applyTo(spark, dataScan(dir), dir.toString)
      }

  /** A CONSISTENT multi-table read view — the read-side complement of
    * the atomic multi-table [[commit]]: the manifest is captured ONCE
    * (one file read, and [[commit]] replaces the whole file by
    * ATOMIC_MOVE, so the capture is strictly all-before or all-after
    * any commit — no lock needed), and every [[Snapshot.read]] resolves
    * against the captured map. A reader holding a snapshot therefore
    * sees NEITHER or BOTH sides of a two-table commit that lands
    * mid-read — the invariant the streaming-clustering (bands,
    * assignment) pair relies on. Versions are immutable directories, so
    * the snapshot stays readable while later commits land, until
    * [[vacuum]] sweeps a superseded version past the retention window
    * (the same lifetime contract as time travel). On an object store
    * the capture is one GET of the manifest key. */
  def snapshot(): TableStore.Snapshot =
    new TableStore.Snapshot(this, manifest)

  /** Read the current version, or an empty DataFrame of `schema` if the
    * table has no committed version yet. The schema is passed explicitly
    * (never inferred): an empty partitioned version has no files to infer
    * from, and at scale skipping footer-sampling on wide tables is free
    * planning time. Versions staged with [[stageBucketed]] are read through
    * their catalog entry so the scan reports its hash partitioning (the
    * plain parquet path would silently forget it and joins would
    * re-shuffle). */
  def readOrEmpty(table: String, schema: StructType): DataFrame =
    manifest.get(table) match {
      case Some(v) => readVersion(table, v, schema)
      case None    => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Read a specific (possibly uncommitted) version with an explicit
    * schema (catalog-aware — see [[readOrEmpty]]). */
  def readVersion(table: String, version: String, schema: StructType): DataFrame =
    catalogNameIfBucketed(table, version) match {
      case Some(name) => spark.table(name)
      case None =>
        val dir = versionDir(table, version).toString
        DeleteVectors.applyTo(spark,
          spark.read.schema(schema).parquet(dir), dir)
    }

  /** Time travel: versions are immutable and named in commit order
    * (nanotime-prefixed), so any un-vacuumed version remains readable. */
  def versions(table: String): Seq[String] = {
    val dir = rootPath.resolve(table)
    if (!Files.exists(dir)) Seq.empty
    else Files.list(dir).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq.sorted
  }

  /** Compact the current version into `numFiles` files (the 1-minute
    * streaming cadence produces a small file per cycle; at scale the
    * many-small-files tax is on every subsequent scan's task scheduling).
    * A compaction is just another version + commit — readers are never
    * disturbed, and a concurrent commit on the same table makes the
    * swap refuse (detect-and-refuse OCC, [[commit]]) rather than lose
    * either side's update. */
  def compact(table: String, schema: StructType, numFiles: Int = 1,
      partitionBy: Seq[String] = Nil): Unit = {
    val cur = manifest.get(table)
    // an evolved version's declared schema outranks the caller's: a
    // stale caller schema would compact the added columns away while
    // the carried declaration still advertises them
    val effective = cur.flatMap(v => declaredSchema(versionDir(table, v)))
      .getOrElse(schema)
    val version = stage(table,
      cur.map(readVersion(table, _, effective)).getOrElse(
        readOrEmpty(table, effective)).coalesce(numFiles), partitionBy)
    cur.foreach(c => restatLike(table, c, version))
    commitMaintenance(table, version, cur)
  }

  /** Regenerate the stats sidecar for a maintenance rewrite using the
    * SOURCE version's own self-described parameters (statted columns
    * from its `min_*`/`bloom_*` names, bloom sizing from its
    * `bloom_bits`/`bloom_k`): a full-rewrite OPTIMIZE must never
    * silently drop the pruning metadata it exists to serve — before
    * this, [[compactClustered]] staged without a sidecar and every
    * subsequent "pruned" read of the freshly clustered layout
    * full-scanned. No-op when the source version has no sidecar (or an
    * empty one — no parameters to stat with). Costs one scan of the
    * rewritten files, the same order as the rewrite itself. */
  private def restatLike(table: String, srcVersion: String,
      dstVersion: String): Unit =
    FileStats.read(spark, versionDir(table, srcVersion).toString)
      .flatMap(FileStats.params).foreach { p =>
        FileStats.write(spark, versionDir(table, dstVersion).toString,
          p.statsCols, p.bloomCols, p.bloomBitsLog2, p.bloomK)
      }

  /** Commit a maintenance rewrite (compaction/clustering): same rows,
    * new layout — so the version tag (the streaming sink's applied-batch
    * high-water mark, [[versionTag]]) carries over, and the commit
    * expects `basedOn` (the version the rewrite read) to still be
    * current — a racing writer makes it refuse, never lose an update. */
  private def commitMaintenance(table: String, version: String,
      basedOn: Option[String]): Unit = {
    basedOn
      .foreach(c => carryTag(versionDir(table, c), versionDir(table, version)))
    commit(Map(table -> version), expect = Map(table -> basedOn))
  }

  /** Data bytes of the current version (parquet files only — manifest
    * debris, `_SUCCESS`, bucket specs excluded). 0 if never committed. */
  def currentBytes(table: String): Long = manifest.get(table) match {
    case None => 0L
    case Some(v) =>
      val files = Files.walk(versionDir(table, v))
      try files.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
      finally files.close()
  }

  /** [[compact]] sized from a target output-file size instead of a file
    * count — the form an OPTIMIZE scheduler calls: a table that grew by
    * small streaming commits is rewritten into `ceil(bytes/target)`
    * files, so file count tracks data volume, not commit count. */
  def compactToSize(table: String, schema: StructType,
      targetBytes: Long = 128L << 20, partitionBy: Seq[String] = Nil): Unit = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val bytes = currentBytes(table)
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    compact(table, schema, n.toInt, partitionBy)
  }

  /** OPTIMIZE-with-clustering: rewrite the current version
    * range-partitioned and sorted on `clusterBy` — pass a plain column
    * for single-key clustering or `Layout.zValue(...)` for a Morton
    * multi-dimension layout — so every output file covers a tight
    * `clusterBy` range and min/max stats pruning bites on subsequent
    * scans. A statted source version's sidecar is REGENERATED for the
    * new layout with its own self-described parameters ([[restatLike]])
    * — the rewrite exists to make pruning bite, so it must not drop the
    * pruning metadata. Like [[compact]], this is just another version +
    * atomic commit: readers of the old layout are never disturbed. */
  def compactClustered(table: String, schema: StructType,
      clusterBy: org.apache.spark.sql.Column, numFiles: Int): Unit = {
    val cur = manifest.get(table)
    val version = stage(table,
      cur.map(readVersion(table, _, schema)).getOrElse(
        readOrEmpty(table, schema))
        .repartitionByRange(numFiles, clusterBy)
        .sortWithinPartitions(clusterBy))
    cur.foreach(c => restatLike(table, c, version))
    commitMaintenance(table, version, cur)
  }

  /** OPTIMIZE bin-packing: rewrite ONLY the current version's
    * sub-`targetBytes` data files into `ceil(smallBytes/targetBytes)`
    * packed files, carrying every already-right-sized file verbatim
    * (hard links — no data bytes move). This is the maintenance shape a
    * STREAMING sink needs: each micro-batch appends one small file
    * forever, and [[compact]]/[[compactToSize]]'s full rewrite would pay
    * O(table) per OPTIMIZE tick — on a 100 TB table the tick must cost
    * O(files appended since the last tick), which this does. DV-aware:
    * tombstones of rewritten files are APPLIED in the rewrite (positions
    * change, so the references must materialize); tombstones of carried
    * files carry with them. Stats sidecar rows carry for kept files and
    * are recomputed for the packed ones; the version tag (the sink's
    * exactly-once high-water mark) always carries. No-ops (committing
    * nothing) when fewer than `minSmallFiles` are small enough to pack,
    * so a scheduled cadence is cheap to over-call; skips bucketed /
    * hive-partitioned layouts (their layout artifacts outrank packing —
    * use [[compact]] with `partitionBy`). Returns the number of small
    * files packed. */
  def compactSmallFiles(table: String, targetBytes: Long = 128L << 20,
      minSmallFiles: Int = 4): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val curV = currentVersion(table)
    stageCompactSmall(table, curV, targetBytes, minSmallFiles).fold(0) {
      case (version, packed) =>
        commit(Map(table -> version), expect = Map(table -> Some(curV)))
        packed
    }
  }

  /** [[compactSmallFiles]] of version `base`, stage-only: the packed
    * version and the number of files packed, or None when it would
    * commit nothing. */
  private def stageCompactSmall(table: String, base: String, targetBytes: Long,
      minSmallFiles: Int): Option[(String, Int)] = {
    val curDir = versionDir(table, base)
    if (!isFlat(curDir)) return None
    val (small, big) = dataFiles(curDir).partition(Files.size(_) < targetBytes)
    if (small.size < minSmallFiles) return None

    val smallBytes = small.map(Files.size).sum
    val n = math.max(1L, (smallBytes + targetBytes - 1) / targetBytes).toInt
    // rewritten files materialize their tombstones (the full DV applied:
    // entries naming carried files simply never match)
    val packed = DeleteVectors.applyTo(spark, declaredSchema(curDir)
      .fold(spark.read)(sc => spark.read.schema(sc))
      .option("basePath", curDir.toString)
      .parquet(small.map(_.toUri.toString): _*), curDir.toString)
    // tombstones of CARRIED files keep pointing at unmoved rows
    val keptDv = DeleteVectors.load(spark, curDir.toString)
      .on(big.map(_.getFileName.toString).toSet)
    val (version, _) = stageCarry(table, curDir, big,
      append = Some(packed.coalesce(n)), dv = keptDv)
    Some((version, small.size))
  }

  /** [[stage]] plus a [[FileStats]] sidecar: per-file min/max/null
    * counts for `statsCols` and bloom filters for `bloomCols`, written
    * INTO the version dir before any commit — so stats are atomic with
    * the version (a version is either fully statted or not committed)
    * and vacuum reclaims them with their data. This is the
    * micro-partition-metadata shape: scan planning on a statted table
    * reads one kilobyte-scale sidecar instead of opening every data
    * file's footer, which at 100 TB is the difference between a
    * metadata lookup and millions of object-store reads per query.
    * Pair with [[compactClustered]]: a clustered layout makes each
    * file's min/max range tight, so range pruning actually bites. */
  def stageWithStats(table: String, df: DataFrame, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil, partitionBy: Seq[String] = Nil,
      bloomBitsLog2: Int = 16, bloomK: Int = 3): String = {
    val version = stage(table, df, partitionBy)
    FileStats.write(spark, versionDir(table, version).toString,
      statsCols, bloomCols, bloomBitsLog2, bloomK)
    version
  }

  /** Range scan of the current version with sidecar file skipping (see
    * [[FileStats.readPrunedRange]]): only files whose [min, max]
    * overlaps [lo, hi] are read, and the exact predicate is re-applied,
    * so results are identical to a full filtered scan regardless of
    * sidecar quality. Versions without a sidecar full-scan. */
  def readPrunedRange(table: String, c: String, lo: org.apache.spark.sql.Column,
      hi: org.apache.spark.sql.Column): DataFrame = {
    val dir = currentPathOrFail(table)
    FileStats.readPrunedRange(spark, dir, c, lo, hi,
      declaredSchema(Paths.get(dir)))
  }

  /** Point lookup on the current version with sidecar file skipping —
    * min/max bracketing plus the bloom filter when `c` carries one (the
    * high-cardinality-column case where clustering-based min/max is
    * useless but a per-file bloom skips almost every file). */
  def readPrunedPoint(table: String, c: String,
      v: org.apache.spark.sql.Column): DataFrame = {
    val dir = currentPathOrFail(table)
    FileStats.readPrunedPoint(spark, dir, c, v,
      declaredSchema(Paths.get(dir)))
  }

  private def currentPathOrFail(table: String): String =
    versionDir(table, currentVersion(table)).toString

  /** Materialize `df` as a new (uncommitted) version of `table`; returns the
    * version id to pass to [[commit]]. The write is the only Spark action —
    * the data lands on disk before any pointer moves. `partitionBy` lays the
    * version out hive-partitioned (a layout the carry tier does not
    * model: its DML rewrites such a version flat). Partition columns must
    * be last in the schema so reads preserve column order. */
  def stage(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): String = {
    val version = newVersion()
    val writer = df.write.mode("errorifexists")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(versionDir(table, version).toString)
    version
  }

  private def newVersion(): String =
    f"v${System.nanoTime()}%019d-${UUID.randomUUID().toString.take(8)}"

  /** Stage `df` hash-bucketed (and per-bucket sorted) on `bucketCols` — the
    * layout that makes every subsequent equi-join/diff on those columns
    * exchange-free: the scan of a bucketed version reports
    * `HashPartitioning(bucketCols, numBuckets)`, so two snapshots staged
    * with the same spec sort-merge-join with NO shuffle on either side
    * (the CDC diff's whole cost at scale). The one shuffle left is the
    * `repartition` at WRITE time — paid once per version instead of twice
    * per downstream read — and it also yields exactly one file per bucket,
    * which lets the reader use the per-file sort and skip the join sort.
    *
    * Spark only carries bucket metadata through the catalog, so the
    * version is registered as an external catalog table pointing at the
    * version dir; [[readVersion]]/[[readOrEmpty]] resolve it
    * transparently. The files are ordinary parquet — if the catalog entry
    * is gone (new session; the test catalog is in-memory), reads fall back
    * to the plain path and only the co-partitioning guarantee is lost. At
    * scale the entry lives in a persistent metastore and this caveat
    * disappears. */
  def stageBucketed(table: String, df: DataFrame, bucketCols: Seq[String],
      numBuckets: Int): String = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val version = newVersion()
    df.repartition(numBuckets,
        bucketCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("errorifexists")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", versionDir(table, version).toString)
      .saveAsTable(catalogName(table, version))
    // persist the bucket spec beside the data: catalog entries are
    // per-session (in-memory catalog), but the version outlives the
    // session — a later JVM re-registers from this file so the scan still
    // reports its hash partitioning instead of silently degrading to a
    // plain (re-shuffling) parquet read. The schema DDL rides along so
    // re-registration never has to infer from the files (an EMPTY bucketed
    // version has no files to infer from, and readVersion's contract is
    // explicit schemas everywhere).
    Files.write(versionDir(table, version).resolve(BucketSpecFile),
      s"$numBuckets\t${bucketCols.mkString(",")}\t${df.schema.toDDL}"
        .getBytes(StandardCharsets.UTF_8))
    version
  }

  private val BucketSpecFile = "_graft_buckets"

  private def catalogName(table: String, version: String): String =
    s"graft_${table}_$version".replaceAll("[^a-zA-Z0-9_]", "_").toLowerCase

  private def catalogNameIfBucketed(table: String, version: String): Option[String] = {
    val name = catalogName(table, version)
    if (spark.catalog.tableExists(name)) Some(name)
    else {
      val spec = versionDir(table, version).resolve(BucketSpecFile)
      if (!Files.exists(spec)) None
      else {
        // re-register the external bucketed table from the persisted spec;
        // the DDL is the third field (older two-field specs fall back to
        // inference — only correct for non-empty versions, which is all a
        // two-field spec can have come from)
        val fields =
          new String(Files.readAllBytes(spec), StandardCharsets.UTF_8)
            .split('\t')
        val (n, cols) = (fields(0), fields(1))
        val dir = versionDir(table, version).toString
        val schema =
          if (fields.length > 2) fields(2)
          else spark.read.parquet(dir).schema.toDDL
        val bucketCols = cols.split(',').mkString(", ")
        spark.sql(
          s"""CREATE TABLE $name ($schema) USING parquet
             |CLUSTERED BY ($bucketCols) SORTED BY ($bucketCols)
             |INTO $n BUCKETS LOCATION '$dir'""".stripMargin)
        Some(name)
      }
    }
  }

  /** Atomically point each table at its staged version — one manifest swap
    * covers all of them (the cross-table transaction of SURVEY.md §7.5.1).
    * Each superseded mapping is appended to that table's `#hist` records
    * in the same swap, so the commit log can never disagree with the
    * current pointer.
    *
    * Concurrency: the swap runs under an exclusive cross-process lock on
    * `_manifest.lock` (plus a JVM-wide per-root monitor, so two
    * TableStore instances in one JVM never contend for the OS lock), and
    * the merge reads the manifest FRESH under that lock — concurrent
    * commits to DISJOINT tables from separate processes both land
    * instead of last-swap-wins erasing one. For commits to the SAME
    * table, pass `expect`: the version each table's new data was BASED
    * on (`None` = the table must not exist yet). If another writer moved
    * a pointer in between, the commit REFUSES with
    * `ConcurrentModificationException` instead of silently publishing a
    * lost update — optimistic concurrency control, detect-and-refuse
    * (the DML paths all pass their pinned snapshot; blind overwrites
    * pass nothing by design). Single-writer-per-table remains the
    * PERFORMANCE assumption — this makes violating it loud, not fast.
    * On an object store the same protocol is a conditional PUT /
    * metastore CAS on the manifest key.
    *
    * Every updated version's directory must exist: a staged version
    * that another handle's [[vacuum]] swept before this commit is
    * refused, never published as a dangling pointer. Vacuum holds the
    * same lock, so the check cannot race it. */
  def commit(updates: Map[String, String],
      expect: Map[String, Option[String]] = Map.empty): Unit =
    withManifestLock {
      updates.foreach { case (t, v) =>
        val dir = versionDir(t, v)
        if (!Files.isDirectory(dir))
          throw new IllegalStateException(
            s"commit('$t'): staged version directory $dir does not exist " +
              "(swept by a vacuum before this commit); stage it again")
      }
      val (cur, hist) = readManifest() // fresh read under the lock
      expect.foreach { case (t, exp) =>
        val got = cur.get(t)
        if (got != exp)
          throw new java.util.ConcurrentModificationException(
            s"commit('$t'): expected current version $exp but found $got — " +
              "another writer committed this table after this operation " +
              "pinned its snapshot; rerun against the new version " +
              "(the staged data is write-ahead garbage, swept by vacuum)")
      }
      val next = cur ++ updates
      val nextHist = updates.foldLeft(hist) { case (h, (t, v)) =>
        cur.get(t) match {
          case Some(old) if old != v =>
            h.updated(t, (h.getOrElse(t, Seq.empty) :+ old).takeRight(MaxHistory))
          case _ => h
        }
      }
      writeManifest(next, nextHist)
    }

  /** Exclusive manifest lock: a JVM-global monitor per canonical root
    * (file locks are held per-JVM — without it, two instances on the
    * same root in one JVM would hit OverlappingFileLockException, not
    * mutual exclusion) wrapping an OS file lock (mutual exclusion
    * ACROSS processes — the scheduled-OPTIMIZE-beside-a-streaming-sink
    * deployment). */
  private def withManifestLock[T](f: => T): T =
    TableStore.rootMonitor(rootPath).synchronized {
      val ch = FileChannel.open(rootPath.resolve("_manifest.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try f finally lock.release()
      } finally ch.close()
    }

  /** Serialize mappings + history and swap them in atomically (the one
    * write path for the manifest — [[commit]] and [[vacuum]]'s history
    * pruning both go through here). Durable as well as atomic: the tmp
    * file reaches disk before the rename publishes it, and the root
    * directory is synced after, so a power loss leaves either the old
    * manifest or the complete new one — never a published but empty
    * `_manifest`, and never a commit that silently un-happens. */
  private def writeManifest(next: Map[String, String],
      nextHist: Map[String, Seq[String]]): Unit = {
    val tmp = rootPath.resolve(s"_manifest.tmp-${UUID.randomUUID()}")
    val body = (next.toSeq.sorted.map { case (t, v) => s"$t\t$v" } ++
      nextHist.toSeq.sortBy(_._1).flatMap { case (t, vs) =>
        vs.map(v => s"#hist\t$t\t$v") }).mkString("\n")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    fsync(tmp)
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    fsync(rootPath)
  }

  /** Force a file's bytes, or a directory's entries, to disk. */
  private def fsync(p: Path): Unit = {
    val ch = FileChannel.open(p, StandardOpenOption.READ)
    try ch.force(true) finally ch.close()
  }

  /** stage + single-table commit. */
  def overwrite(table: String, df: DataFrame): Unit =
    commit(Map(table -> stage(table, df)))

  /** TRUNCATE TABLE (`SCD-Automation.sql:9-12,38`): commit an empty version
    * with the given schema. */
  def truncate(table: String, schema: StructType): Unit =
    overwrite(table, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))

  /** DROP TABLE with retention (the Snowflake DROP/[[undropTable]]
    * pair): ONE manifest swap removes the current mapping and records
    * the dropped version as the newest `#hist` entry — no data bytes
    * move, readers pinned on the old snapshot keep working, and the
    * table stays restorable until [[vacuum]]'s retention policy sweeps
    * its versions (`vacuum(retain = n)` keeps the last n per table;
    * `vacuum(0)` is the hard purge). Dropping a missing table throws —
    * a silent no-op would hide an orchestration bug. */
  def dropTable(table: String): Unit = withManifestLock {
    val (current, hist) = readManifest()
    val cur = current.getOrElse(table,
      throw new IllegalStateException(s"table '$table' does not exist in $root"))
    writeManifest(current - table,
      hist.updated(table,
        (hist.getOrElse(table, Seq.empty) :+ cur).takeRight(MaxHistory)))
  }

  /** UNDROP TABLE: restore the most recently dropped version with one
    * metadata commit — the directory never moved, so the restored table
    * reads byte-identically, sidecars (deletion vector, stats, version
    * tag, declared schema) and all. Refuses when the table exists (drop
    * first) or when no retained version remains (a retention vacuum
    * already swept it — restores never resurrect reclaimed bytes). */
  def undropTable(table: String): Unit = withManifestLock {
    val (current, hists) = readManifest()
    require(!current.contains(table),
      s"undropTable: '$table' already exists in $root")
    val hist = hists.getOrElse(table, Seq.empty)
    if (hist.isEmpty)
      throw new IllegalStateException(
        s"undropTable: no retained version of '$table' in $root — " +
          "a retention vacuum already swept it")
    writeManifest(current + (table -> hist.last),
      if (hist.size > 1) hists.updated(table, hist.dropRight(1))
      else hists - table)
  }

  /** Predicate DELETE — the right-to-be-forgotten sweep the reference has
    * no counterpart for (its merges never delete, SURVEY §4b.5): commit a
    * new version WITHOUT the matching rows and return how many were
    * removed. Copy-on-write like every other DML here: the old version
    * stays readable ([[readVersion]] time travel) until [[vacuum]], which
    * is the call that actually makes the bytes disappear — a compliance
    * purge is `deleteWhere` + `vacuum`, and callers owning the retention
    * clock decide when the second step runs. The rewrite is one filtered
    * scan; at 100 TB pair it with a partitioned layout so the scan prunes
    * to the partitions that can match. */
  def deleteWhere(table: String, predicate: org.apache.spark.sql.Column): Long = {
    // the version is pinned ONCE, so the before-count scan and the
    // staged rewrite read the SAME immutable files even if another
    // commit lands in between. Cost is two scans of that version
    // (footer-only metadata count + the filtered rewrite) plus a footer
    // count of the staged files. A concurrent writer to the SAME table
    // makes the commit below REFUSE (detect-and-refuse OCC, [[commit]]
    // docs) — never a silent lost update.
    val curV = currentVersion(table)
    val cur = catalogNameIfBucketed(table, curV).map(spark.table).getOrElse {
      val dir = versionDir(table, curV)
      DeleteVectors.applyTo(spark, dataScan(dir), dir.toString)
    }
    val keep = cur.filter(!coalesce(predicate, lit(false)))
    val before = cur.count()
    val v = stage(table, keep)
    val after = spark.read.parquet(versionDir(table, v).toString).count()
    // a delete is maintenance on the same logical table: the streaming
    // sink's applied-batch tag (high-water mark) survives it — all
    // surgical/MoR DML carries it, and this copy-on-write fallback must
    // too, or a retention sweep voids the sink's exactly-once contract
    commitMaintenance(table, v, Some(curV))
    before - after
  }

  /** Surgical range DELETE using the [[FileStats]] sidecar: removes rows
    * with `c` in [lo, hi] (inclusive; NULLs never match) by rewriting
    * ONLY the files whose [min, max] may overlap the range — every other
    * file is carried into the new version by [[stageCarry]], and its
    * sidecar row is carried over with it, so the whole operation is
    * O(matching files), not O(table). On a date-clustered 100 TB table
    * a retention sweep rewrites one date-range's worth of files
    * instead of the corpus.
    * Falls back to [[deleteWhere]]'s full copy-on-write rewrite when
    * the version has no zone maps for `c` or a layout file-level
    * surgery can't preserve (hive-partitioned / bucketed versions).
    * Row counts come from the sidecar (before) and the rewritten
    * files' fresh stats (after) — no extra counting scans. Returns the
    * number of rows deleted; deleting zero rows commits nothing. */
  def deleteRange(table: String, c: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column): Long = {
    val curV = currentVersion(table)
    val curDir = versionDir(table, curV)
    val fallback = () => deleteWhere(table, col(c) >= lo && col(c) <= hi)
    FileStats.read(spark, curDir.toString) match {
      case None => fallback()
      case Some(_) if Files.exists(curDir.resolve(BucketSpecFile)) => fallback()
      // a DV'd version: the verbatim file-carry below would drop the
      // tombstones and resurrect deleted rows — the fallback reads
      // DV-aware and materializes the deletions in its full rewrite
      case Some(_) if DeleteVectors.exists(curDir.toString) => fallback()
      case Some(stats) if !stats.columns.contains(s"min_$c") => fallback()
      case Some(stats) =>
        val rows = stats.cache()
        try {
          val matched = rows.filter(FileStats.mayContainRange(c, lo, hi))
            .select("file").collect().map(_.getString(0))
          if (matched.isEmpty) return 0L
          val untouched = rows.filter(!FileStats.mayContainRange(c, lo, hi))
            .select("file").collect()
            .map(r => Paths.get(java.net.URI.create(r.getString(0)).getPath))
          // partitioned layouts nest files under key=value dirs; the
          // flat carry would orphan them — full rewrite instead
          val allFiles =
            matched.map(f => Paths.get(java.net.URI.create(f).getPath)) ++ untouched
          if (allFiles.exists(_.getParent != curDir.toAbsolutePath))
            return fallback()

          // declared-schema read (schema evolution): a matched-file set
          // spanning generations must rewrite under the union schema,
          // not whichever file's schema Spark samples first
          val survivors = declaredSchema(curDir)
            .fold(spark.read)(sc => spark.read.schema(sc))
            .option("basePath", curDir.toString)
            .parquet(matched.toIndexedSeq: _*)
            .filter(!coalesce(col(c) >= lo && col(c) <= hi, lit(false)))
          val (version, newFiles) = stageCarry(table, curDir,
            untouched.toSeq, append = Some(survivors))
          val before = rows.join(
            spark.createDataset(matched.toIndexedSeq)(
              org.apache.spark.sql.Encoders.STRING).toDF("file"), "file")
            .agg(sum("row_cnt")).head().getLong(0)
          val after =
            if (newFiles.isEmpty) 0L
            else Option(FileStats.read(spark,
                versionDir(table, version).toString).get
              .join(spark.createDataset(newFiles.toIndexedSeq)(
                org.apache.spark.sql.Encoders.STRING).toDF("file"), "file")
              .agg(sum("row_cnt")).head().get(0))
              .map(_.asInstanceOf[Long]).getOrElse(0L)
          commit(Map(table -> version), expect = Map(table -> Some(curV)))
          before - after
        } finally rows.unpersist()
    }
  }

  /** Build the successor version of a carry-tier DML — the one
    * implementation behind [[deleteRange]], [[deleteWhereMoR]],
    * [[purgeDeletes]], [[stageMerge]], [[appendEvolved]],
    * [[compactSmallFiles]], [[cloneTable]] and [[restoreTable]], so a
    * sidecar kind can never be carried by one and dropped by another.
    * In order:
    *  1. [[stage]] `append` as a new version of `table`, or, with nothing
    *     to append, create an empty version directory with `_SUCCESS`;
    *  2. hard-link `keep` (files of the flat version at `src`) beside the
    *     appended files (Spark's UUID part names cannot collide with
    *     carried ones);
    *  3. write `dv`, the new version's tombstones (combined on the driver
    *     by the caller; they name files of this version), as its deletion
    *     vector ([[DeleteVectors.write]]; an empty one is not written).
    *     `dv` is taken while step 1 writes: a caller's may be a
    *     delta-sized collect ([[stageMerge]]'s R);
    *  4. carry the stats sidecar (`carryStats`): rows of `src`'s files
    *     outside (src files − keep) are path-remapped into the new
    *     directory, appended files get fresh rows;
    *  5. write a fresh `tag` and carry the declared schema, or without
    *     one carry both from `src` — maintenance DML must not erase a
    *     streaming sink's applied-batch high-water mark, and no carry
    *     may drop the evolved-read contract while it carries
    *     old-generation files.
    * Returns the staged version (the caller owns the commit and its OCC
    * expectation) and the appended files' URIs. */
  private def stageCarry(table: String, src: Path, keep: Seq[Path],
      append: Option[DataFrame] = None, dv: => Tombstones = Tombstones.empty,
      tag: Option[String] = None,
      carryStats: Boolean = true): (String, Seq[String]) = {
    var tombstones = Tombstones.empty
    val Seq(Some(version), _) = Overlap.run(Seq[() => Option[String]](
      () => Some(append.fold {
        val v = newVersion()
        Files.createDirectories(versionDir(table, v))
        Files.createFile(versionDir(table, v).resolve("_SUCCESS"))
        v
      }(stage(table, _))),
      () => { tombstones = dv; None }))
    val dst = versionDir(table, version)
    val appended = dataFiles(dst).map(_.toUri.toString)
    keep.foreach(carryFile(_, dst))
    val keptNames = keep.map(_.getFileName.toString).toSet
    DeleteVectors.write(spark, tombstones, dst.toString)
    if (carryStats) FileStats.read(spark, src.toString).foreach { rows =>
      val dropped = dataFiles(src).map(_.getFileName.toString).toSet -- keptNames
      carrySidecar(rows, dropped, dst, appended)
    }
    tag match {
      case Some(t) =>
        Files.write(dst.resolve(TagFile), t.getBytes(StandardCharsets.UTF_8))
        carrySchema(src, dst)
      case None => carryTag(src, dst)
    }
    (version, appended)
  }

  /** The stats step of [[stageCarry]]: rows of files not `dropped` keep
    * their stats with the path remapped to `dst` (same file name, new
    * directory), `appended` files get stats recomputed with the
    * sidecar's own self-described parameters — O(changed files), never
    * a rescan of the carried data. A statted EMPTY version has a
    * zero-row sidecar, so no parameters to stat fresh files with: the
    * sidecar is skipped (readers of the new version degrade to full
    * scans; stats can only skip, so correctness is untouched). */
  private def carrySidecar(rows: DataFrame, dropped: Set[String],
      dst: Path, appended: Seq[String]): Unit =
    FileStats.params(rows).foreach { p =>
      val name = DeleteVectors.fileNameOf(col("file"))
      val carried = rows.filter(!name.isInCollection(dropped))
        .withColumn("file",
          concat(lit(dst.toUri.toString.stripSuffix("/") + "/"), name))
      val fresh =
        if (appended.isEmpty) carried.limit(0)
        else FileStats.computeStats(
          spark.read.option("basePath", dst.toString).parquet(appended: _*),
          p.statsCols, p.bloomCols, p.bloomBitsLog2, p.bloomK)
      FileStats.writeStatsDf(carried.unionByName(fresh), dst.toString)
    }

  /** Carry an immutable version file into a new version dir without
    * moving data bytes: a hard link when the filesystem supports it —
    * O(1) per file, the local-fs analogue of an object store's
    * server-side copy / manifest-level file reuse, and safe precisely
    * because version files are never modified in place (deleting a
    * linked version dir only drops a reference; the bytes live until
    * the LAST referencing version is vacuumed). Falls back to a byte
    * copy on filesystems without hard links. This is what keeps the
    * carry tier ([[stageCarry]]) at O(changed data + file count) rather
    * than O(table bytes) per commit — on a 100 TB table a trickle
    * upsert must not re-copy 100 TB of untouched files. */
  private def carryFile(src: Path, dstDir: Path): Unit = {
    val dst = dstDir.resolve(src.getFileName.toString)
    try Files.createLink(dst, src)
    catch { case _: UnsupportedOperationException | _: java.io.IOException =>
      Files.copy(src, dst); ()
    }
  }

  /** The version's data files (flat layout). */
  private def dataFiles(dir: Path): Seq[Path] =
    withListing(dir)(_.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).toSeq)

  /** Whether the version is the plain flat layout the name-keyed carry
    * tier models: not bucketed (its reads need the bucket spec and
    * catalog entry) and no files nested in subdirectories (hive
    * partitioning; sidecar dirs are `_`-prefixed, not data). */
  private def isFlat(dir: Path): Boolean =
    !Files.exists(dir.resolve(BucketSpecFile)) &&
      withListing(dir)(!_.exists(p => Files.isDirectory(p) &&
        !p.getFileName.toString.startsWith("_")))

  /** Merge-on-read DELETE ([[DeleteVectors]]): record the matching
    * rows as (file, position) tombstones and carry every data file
    * verbatim — no data bytes are rewritten, so the commit costs one
    * predicate scan plus O(deleted rows) metadata REGARDLESS of how
    * the matches scatter across files. This is the tier for
    * low-selectivity deletes on unclustered predicates, where
    * [[deleteRange]]'s zone maps would match every file and
    * [[deleteWhere]] would rewrite the corpus: on a 100 TB table the
    * DV commit is minutes of scan and kilobytes of write. Reads of a
    * DV'd version anti-join the sidecar (broadcast — no shuffle of
    * the data side) until [[purgeDeletes]] materializes the
    * tombstones; repeated MoR deletes accumulate into one DV.
    * Deleting zero rows commits nothing. Falls back to the
    * copy-on-write [[deleteWhere]] for bucketed / hive-partitioned
    * layouts (their reads bypass the flat-version DV application).
    * Like all DML here: time travel keeps the pre-delete version
    * readable until vacuum, and a compliance purge is this plus
    * [[purgeDeletes]] plus [[vacuum]]. */
  def deleteWhereMoR(table: String,
      predicate: org.apache.spark.sql.Column): Long = {
    val curV = currentVersion(table)
    val curDir = versionDir(table, curV)
    if (!isFlat(curDir)) return deleteWhere(table, predicate)
    val files = dataFiles(curDir)
    if (files.isEmpty) return 0L // empty version: nothing to delete

    // tombstones of the NEWLY matching rows, computed on the DV-adjusted
    // view so already-deleted rows are never re-recorded (positions are
    // captured directly above the scan — before the anti-join — because
    // `_metadata` doesn't resolve through joins), collected in one job
    val oldDv = DeleteVectors.load(spark, curDir.toString)
    val fresh = DeleteVectors.positions(DeleteVectors.join(spark,
        DeleteVectors.withPosition(dataScan(curDir)), oldDv, curDir.toString, "left_anti")
      .filter(coalesce(predicate, lit(false))))
    if (fresh.isEmpty) return 0L

    // Zone maps / blooms describe the FILES (tombstones included) and
    // stats can only skip, so the sidecar carries over untouched; the
    // stale row_cnt is why [[statsAgg]] won't answer from metadata here
    val (version, _) = stageCarry(table, curDir, files, dv = oldDv ++ fresh)
    commit(Map(table -> version), expect = Map(table -> Some(curV)))
    fresh.size
  }

  /** Materialize a version's deletion vector: rewrite ONLY the files
    * the DV names (minus their tombstoned rows), carry every other
    * file verbatim, and commit a DV-free version — returning reads to
    * plain scans. O(DV'd files), not O(table): the OPTIMIZE-style
    * maintenance call that bounds how long the anti-join read tax
    * accrues. Stats sidecars are carried/recomputed per file like
    * [[deleteRange]]. Returns the number of tombstones materialized
    * (0, committing nothing, when the version has no DV). */
  def purgeDeletes(table: String): Long = {
    val curV = currentVersion(table)
    stagePurge(table, curV).fold(0L) { case (version, purged) =>
      commit(Map(table -> version), expect = Map(table -> Some(curV)))
      purged
    }
  }

  /** [[purgeDeletes]] of version `base`, stage-only: the DV-free version
    * and the number of tombstones it materialized, or None when `base`
    * has no (or an empty) deletion vector. */
  private def stagePurge(table: String, base: String): Option[(String, Long)] = {
    val curDir = versionDir(table, base)
    val dv = DeleteVectors.load(spark, curDir.toString)
    Option.when(!dv.isEmpty) {
      // every loaded tombstone names a file of the version
      val (rewrite, untouched) =
        dataFiles(curDir).partition(f => dv.files(f.getFileName.toString))
      // declared-schema read: DV'd files can span generations (see
      // deleteRange) — rewrite under the union schema
      val survivors = DeleteVectors.applyTo(spark,
        declaredSchema(curDir).fold(spark.read)(sc => spark.read.schema(sc))
          .option("basePath", curDir.toString)
          .parquet(rewrite.map(_.toUri.toString): _*),
        curDir.toString)
      (stageCarry(table, curDir, untouched, append = Some(survivors))._1, dv.size)
    }
  }

  /** Share of a version's rows its deletion vector may tombstone before
    * [[stageUpkeep]] purges it. Every read of a DV'd version still scans
    * the tombstoned rows and anti-joins them away, so this bounds the
    * wasted share of each scan. */
  private val MaxTombstoneShare = 0.10

  /** Data files a version may hold before [[stageUpkeep]] packs its
    * small ones: each carry-tier append adds files, and every scan pays a
    * per-file open and footer read. */
  private val MaxFiles = 32

  /** The one rule that bounds a carry-tier table's debt, stage-only:
    * when version `base`'s deletion vector tombstones more than
    * [[MaxTombstoneShare]] of its rows, purge it ([[purgeDeletes]]); when
    * the version then holds more than [[MaxFiles]] data files, pack its
    * small ones ([[compactSmallFiles]]) toward one file per core, so
    * later scans stay parallel. Returns the maintained version, or None
    * when `base` is within both bounds (or not flat). The debt is read
    * from metadata alone — the DV, the data files' parquet footers and a
    * directory listing — so checking it costs no Spark job. Same rows,
    * new layout: the caller commits it expecting `base`. */
  def stageUpkeep(table: String, base: String): Option[String] = {
    val dir = versionDir(table, base)
    if (!isFlat(dir)) return None
    val tombstones = DeleteVectors.load(spark, dir.toString).size
    val purged =
      if (tombstones == 0L || tombstones <= MaxTombstoneShare * versionRows(table, dir)) None
      else stagePurge(table, base).map(_._1)
    val current = purged.getOrElse(base)
    val files = dataFiles(versionDir(table, current))
    val packed =
      if (files.size <= MaxFiles) None
      else {
        val cores = spark.sparkContext.defaultParallelism
        val target = math.max(1L, (files.map(Files.size).sum + cores - 1) / cores)
        stageCompactSmall(table, current, target, minSmallFiles = 2).map(_._1)
      }
    packed.orElse(purged)
  }

  /** A value read from each data file of the flat version at `dir`
    * through its parquet footer (a driver-side metadata read, no Spark
    * job). Carried files keep their names, so the values are remembered
    * per `key` (for the files of its latest read version only) and a
    * version costs footer reads only for the files it added. */
  private def perFile[T](key: String, dir: Path)(
      read: org.apache.parquet.hadoop.ParquetFileReader => T): Seq[T] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val known = footerValues.getOrDefault(key, Map.empty)
    val values = dataFiles(dir).map { f =>
      val name = f.getFileName.toString
      name -> known.getOrElse(name, {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf))
        try read(reader) finally reader.close()
      })
    }
    footerValues.put(key, values.toMap)
    values.map(_._2.asInstanceOf[T])
  }

  private val footerValues =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Any]]()

  /** Rows of the flat version at `dir`, from its files' footers. */
  private def versionRows(table: String, dir: Path): Long =
    perFile(s"$table#rows", dir)(_.getRecordCount).sum

  /** The largest value of the long column `column` in `table`'s flat
    * version `base`, from its files' parquet footer statistics — no Spark
    * job, and each file's footer is read once per handle ([[perFile]]).
    * Tombstoned rows count too, so under a deletion vector this bounds
    * the live rows' max from above. None when the version holds no
    * non-null value of the column. */
  def footerMax(table: String, base: String, column: String): Option[Long] =
    perFile(s"$table#max:$column", versionDir(table, base)) { reader =>
      reader.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == column))
        .map(_.getStatistics)
        .collect { case st: org.apache.parquet.column.statistics.LongStatistics
          if st.hasNonNullValue => st.getMax }
        .maxOption
    }.flatten.maxOption

  /** Metadata-only aggregates: row count and, per requested column,
    * min / max / non-null count of the CURRENT version, answered from
    * the [[FileStats]] sidecar alone — zero data-file I/O, the
    * Snowflake-style `count(*)`/`min`/`max` shortcut where the answer
    * at 100 TB is a kilobyte-scale sidecar scan instead of a corpus
    * scan. Exact, not approximate: sidecar min/max are true column
    * aggregates per file (not truncated parquet footer stats), so
    * their fold equals the global aggregate, and non-null counts are
    * `row_cnt − nulls_c` summed. Falls back to the equivalent data
    * scan when the version lacks stats for any requested column or
    * carries a deletion vector (tombstones make the per-file counts
    * stale, and a deleted row may hold the min/max) — same columns,
    * same values, just paid in I/O. Returns one row:
    * `(n_rows, min_c1, max_c1, cnt_c1, …)`. */
  def statsAgg(table: String, cols: Seq[String]): DataFrame = {
    val dir = currentPathOrFail(table)
    val sidecar =
      if (DeleteVectors.exists(dir)) None else FileStats.read(spark, dir)
    sidecar match {
      case Some(st) if cols.forall(c => st.columns.contains(s"min_$c")) =>
        val aggs = coalesce(sum(col("row_cnt")), lit(0L)).as("n_rows") +:
          cols.flatMap(c => Seq(
            min(col(s"min_$c")).as(s"min_$c"),
            max(col(s"max_$c")).as(s"max_$c"),
            coalesce(sum(col("row_cnt")) - sum(col(s"nulls_$c")), lit(0L))
              .as(s"cnt_$c")))
        st.agg(aggs.head, aggs.tail: _*)
      case _ =>
        val aggs = count(lit(1)).as("n_rows") +:
          cols.flatMap(c => Seq(
            min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
            count(col(c)).as(s"cnt_$c")))
        read(table).agg(aggs.head, aggs.tail: _*)
    }
  }

  /** The carry tier's MERGE, stage-only: the successor of `table`'s
    * version `base` that tombstones rows R and appends rows A, returned
    * uncommitted (the caller commits it, expecting `base`). It runs in
    * two halves, so a caller can read before it may write: [[touch]]
    * pins what the change reads, then [[stageMerge]] stages the version.
    *
    * `select` picks, from the base's rows (its scan with the
    * [[DeleteVectors.withPosition]] columns), the rows the change reads —
    * a delta-sized slice, minus the base's tombstones, checkpointed when
    * first read ([[Touched.rows]]). It must only select rows (a filter or
    * a semi-join), so that it commutes with the tombstones: only the
    * slice pays the deletion vector's keyed anti-join
    * ([[DeleteVectors.join]]) against the base's tombstones, which are
    * loaded on the driver, so the slice scans the base's data once and
    * never its DV. Without `select` nothing of the base is read and the
    * slice is empty: a pure append ([[stageAppend]]). A caller that reads
    * the slice once, inside a job of its own (a checkpointed join whose
    * output already names R and A), reads [[Touched.selection]] instead,
    * and the slice is never materialized. Touching stages nothing;
    * [[Touched.release]] frees the slice. */
  def touch(table: String, base: Option[String], schema: StructType,
      select: Option[DataFrame => DataFrame]): Touched =
    new Touched(table, base, schema, select)

  /** A touched slice of one version ([[touch]]). */
  final class Touched private[TableStore] (val table: String,
      val base: Option[String], schema: StructType,
      select: Option[DataFrame => DataFrame]) {
    private[TableStore] val dir = base.map(versionDir(table, _))
    private[TableStore] val flat = dir.exists(isFlat)
    // the base's declared read schema, or the caller's: never inferred
    // (inference costs a footer-reading job per call)
    private[TableStore] val readSchema = dir.flatMap(declaredSchema).getOrElse(schema)
    private[TableStore] val dv =
      dir.fold(Tombstones.empty)(d => DeleteVectors.load(spark, d.toString))
    // lazy: a pure append never plans a scan of the base
    private[TableStore] lazy val scan = (base, dir) match {
      case (Some(v), Some(d)) => DeleteVectors.withPosition(
        catalogNameIfBucketed(table, v).map(spark.table)
          .getOrElse(spark.read.schema(readSchema).parquet(d.toString)))
      case _ => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], readSchema)
        .withColumn("__dv_file", lit(null).cast("string"))
        .withColumn("__dv_pos", lit(null).cast("long"))
    }
    private[TableStore] def alive(rows: DataFrame): DataFrame =
      dir.fold(rows)(d => DeleteVectors.join(spark, rows, dv, d.toString, "left_anti"))
    private[TableStore] def selected = select.isDefined
    /** The touched rows (with the position columns) as a plan over the
      * base, for a caller that reads them once, inside its own job; no
      * rows without a selection. */
    val selection: DataFrame = select.fold(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], readSchema))(f => alive(f(scan)))
    @volatile private var checkpointed = false
    /** The touched rows, checkpointed when first read, so a change that
      * reads them more than once scans the base once. */
    lazy val rows: DataFrame =
      if (!selected) selection
      else { val slice = selection.localCheckpoint(true); checkpointed = true; slice }
    /** Free the checkpointed slice, if it was read (idempotent). */
    def release(): Unit = if (checkpointed) graft.operators.Dedup.releaseCheckpoint(rows)
  }

  /** The write half of the carry tier's MERGE (see [[touch]]): `change`
    * maps the touched rows (by name: a change that never reads them never
    * materializes the slice) to R (rows of the slice, position columns
    * kept; `None` tombstones nothing) and A, and the new version carries
    * every base file by hard link, records R's positions in its deletion
    * vector on top of the base's, and writes A (in the table's column
    * order) as fresh files through [[stage]], one per non-empty partition
    * of A — no existing byte is rewritten, so the cost is the touched
    * slice plus O(|A|) writes however the rows scatter, the MERGE shape
    * of the lakehouse formats' deletion vectors. The read tax is the DV's
    * anti-join until [[purgeDeletes]]; see [[stageUpkeep]] for the bound.
    * Two layouts have no base to carry: with no `base` the version is A
    * alone; a base the flat carry can't model (hive-partitioned,
    * bucketed) is rewritten flat once, as its alive rows minus R plus A.
    * Every later version of the table then takes the carry. Releases the
    * touched slice on return. */
  def stageMerge(touched: Touched,
      change: (=> DataFrame) => (Option[DataFrame], DataFrame),
      tag: Option[String] = None): String = try {
    import touched.{alive, dir, dv, flat, scan, table}
    val (remove, add) = change(touched.rows)
    require(touched.selected || remove.isEmpty,
      s"stageMerge('$table'): rows to tombstone need a touched slice")
    val rows = add.select(touched.readSchema.fieldNames.toSeq.map(col): _*)
    dir match {
      case Some(d) if flat =>
        // R is delta-sized: collected while A is written
        stageCarry(table, d, dataFiles(d), append = Some(rows),
          dv = remove.fold(dv)(dv ++ DeleteVectors.positions(_)), tag = tag)._1
      case Some(d) =>
        // by full path: a partitioned layout repeats part-file names
        // across its directories
        val rowsNow = alive(scan)
        val survivors = remove.fold(rowsNow)(r => rowsNow.join(
          r.select("__dv_file", "__dv_pos"), Seq("__dv_file", "__dv_pos"), "left_anti"))
        stageCarry(table, d, Nil,
          append = Some(survivors.select(rows.columns.toSeq.map(col): _*).unionByName(rows)),
          tag = tag, carryStats = false)._1
      case None =>
        val v = stage(table, rows)
        tag.foreach(t => Files.write(versionDir(table, v).resolve(TagFile),
          t.getBytes(StandardCharsets.UTF_8)))
        v
    }
  } finally touched.release()

  /** INSERT INTO, stage-only: `rows` appended to `table`'s version `base`
    * (or as its first version) — [[stageMerge]] tombstoning nothing, so
    * nothing of the base is read and the write is O(|rows|). */
  def stageAppend(table: String, base: Option[String], rows: DataFrame): String =
    stageMerge(touch(table, base, rows.schema, select = None), _ => (None, rows))

  /** INSERT INTO: [[stageAppend]] onto the current version, committed
    * expecting it (a racing writer makes the append refuse, never lose
    * its rows). */
  def append(table: String, rows: DataFrame): Unit = {
    val base = manifest.get(table)
    commit(Map(table -> stageAppend(table, base, rows)), expect = Map(table -> base))
  }

  /** Merge-on-read UPSERT (MERGE): rows of `updates` replace current
    * rows sharing their `keys` value and insert otherwise — committed
    * WITHOUT rewriting one byte of existing data: the [[stageMerge]]
    * whose touched rows are the alive rows sharing a key with `updates`
    * (one key semi-join scan), all of them tombstoned, with `updates`
    * appended. Re-upserting a key already tombstoned records nothing
    * twice; a pure insert on a DV-free version writes no deletion vector
    * (no read tax). Against [[graft.ops.Merge.upsert]]'s full-rewrite
    * copy-on-write, this is the tier for a trickle of updates into a
    * 100 TB table. Contract: `updates` must be key-unique and share the
    * table's columns; NULL keys never match and therefore insert.
    * Returns the number of current rows replaced.
    *
    * `tag`: an optional opaque marker written INTO the version dir
    * before the commit, readable back via [[versionTag]] — because the
    * commit is one atomic manifest swap, the tag is visible iff the
    * upsert is, which is exactly the idempotence token a streaming
    * MERGE sink needs for exactly-once-effect across restarts (tag =
    * micro-batch id; a replayed batch sees its own tag and skips —
    * [[graft.streaming.StoreStream]]). */
  def upsertMoR(table: String, updates: DataFrame, keys: Seq[String],
      tag: Option[String] = None): Long = {
    val curV = currentVersion(table)
    var replaced = 0L
    val version = stageMerge(touch(table, Some(curV), read(table).schema,
        select = Some(_.join(updates.select(keys.map(col): _*), keys, "left_semi"))),
      change = { touched =>
        replaced = touched.count()
        (Option.when(replaced > 0L)(touched), updates)
      }, tag = tag)
    commit(Map(table -> version), expect = Map(table -> Some(curV)))
    replaced
  }

  /** SCHEMA EVOLUTION: append `rows` whose schema is a SUPERSET of the
    * table's current schema (every existing column present with its
    * exact type; new columns added anywhere). The new version carries
    * the old generation's files by hard link — zero data bytes
    * rewritten, the lakehouse add-column shape — and declares the union
    * schema in a version-local sidecar; every read of the version (and
    * of every carry-descended successor) uses the declaration, so
    * parquet null-fills the added columns for old-generation rows.
    * Added columns are declared nullable by construction (the old
    * generation IS their null population).
    *
    * Composition: the deletion vector carries verbatim ((file, pos)
    * tombstones are schema-independent); the version tag carries (or a
    * fresh one lands); the FILE-STATS sidecar is DROPPED — its per-file
    * min/max columns are keyed to the old column set, and stats may
    * only ever SKIP I/O, so absence degrades to full scans, never to
    * wrong answers; re-stat after the next compaction if pruning
    * matters. Only additive evolution is supported: dropping or
    * retyping a column throws (widen-by-rewrite stays an explicit
    * [[overwrite]]). Plain flat layout only — bucketed versions pin
    * their schema in the bucket-spec DDL and hive-partitioned layouts
    * pin theirs in the directory structure. */
  def appendEvolved(table: String, rows: DataFrame,
      tag: Option[String] = None): Unit = {
    val curV = currentVersion(table)
    val curDir = versionDir(table, curV)
    require(isFlat(curDir),
      "appendEvolved requires the plain flat layout (bucketed layouts pin " +
        "their schema in the bucket spec; partitioned ones in the dir tree)")
    val curSchema = declaredSchema(curDir).getOrElse(dataScan(curDir).schema)
    val newSchema = rows.schema
    curSchema.fields.foreach { f =>
      val nf = newSchema.fields.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"appendEvolved: column '${f.name}' missing from the evolved " +
            "schema — only ADDITIVE evolution is supported (drop/rename " +
            "is an explicit overwrite)"))
      require(nf.dataType == f.dataType,
        s"appendEvolved: column '${f.name}' changes type " +
          s"(${f.dataType.sql} -> ${nf.dataType.sql}) — only additive " +
          "evolution is supported (retype is an explicit overwrite)")
    }
    val declared = StructType(newSchema.fields.map { f =>
      if (curSchema.fields.exists(_.name == f.name)) f
      else f.copy(nullable = true) // old generation is the null population
    })
    val (version, _) = stageCarry(table, curDir, dataFiles(curDir),
      append = Some(rows), dv = DeleteVectors.load(spark, curDir.toString),
      tag = tag, carryStats = false)
    // the union declaration lands LAST among sidecars (overwriting any
    // carried older declaration) and before the commit: visible iff the
    // version is
    Files.write(versionDir(table, version).resolve(SchemaFile),
      declared.toDDL.getBytes(StandardCharsets.UTF_8))
    commit(Map(table -> version), expect = Map(table -> Some(curV)))
  }

  private val TagFile = "_graft_tag"
  private val SchemaFile = "_graft_schema"

  /** The version's DECLARED read schema (present only once a table has
    * been schema-evolved): the union schema every read of this version
    * must use, because its data files are generationally mixed — old
    * files simply lack the added columns and parquet null-fills them
    * under an explicit read schema. Absent on never-evolved versions
    * (uniform files, self-describing). */
  private def declaredSchema(dir: Path): Option[StructType] = {
    val f = dir.resolve(SchemaFile)
    if (Files.exists(f))
      Some(StructType.fromDDL(
        new String(Files.readAllBytes(f), StandardCharsets.UTF_8)))
    else None
  }

  private def carrySchema(curDir: Path, dst: Path): Unit = {
    val s = curDir.resolve(SchemaFile)
    if (Files.exists(s)) {
      Files.copy(s, dst.resolve(SchemaFile),
        StandardCopyOption.REPLACE_EXISTING); ()
    }
  }

  /** Raw scan of a version dir honoring its declared schema (schema
    * evolution) — EVERY internal data read of a flat version must go
    * through this, or a generationally-mixed version would read with
    * whichever file's schema Spark samples first and silently drop the
    * added columns. */
  private def dataScan(dir: Path): DataFrame =
    declaredSchema(dir) match {
      case Some(s) => spark.read.schema(s).parquet(dir.toString)
      case None    => spark.read.parquet(dir.toString)
    }

  /** Carry the current version's tag and declared schema (if any) into
    * a successor version built by maintenance DML — a purge or delete
    * between streaming micro-batches must not erase the sink's
    * applied-batch high-water mark, and NO carry-based DML may erase
    * the evolved-read contract while old-generation files are still
    * being carried. */
  private def carryTag(curDir: Path, dst: Path): Unit = {
    val t = curDir.resolve(TagFile)
    if (Files.exists(t)) { Files.copy(t, dst.resolve(TagFile)); () }
    carrySchema(curDir, dst)
  }

  /** Zero-copy CLONE (Snowflake's `CREATE TABLE ... CLONE`, the
    * platform capability the reference's engine is famous for): commit
    * `dst` as a new table whose first version carries `src`'s current
    * data files as hard links and its sidecars (deletion vector, file
    * stats, version tag) verbatim — a metadata-only commit, O(file
    * count + sidecar bytes) regardless of table size; cloning a 100 TB
    * table moves zero data bytes (an object store does this as
    * manifest reuse). The clone and the source then diverge freely:
    * every DML here writes fresh immutable versions, so neither side
    * can ever see the other's changes, and the shared bytes live until
    * the LAST referencing version is vacuumed (hard-link semantics —
    * [[vacuum]] on one table only drops its references). Sidecar
    * carries keep the clone's read shape identical: a DV'd source
    * clones with its tombstones applied, a statted source clones with
    * pruning intact (stats rows are path-remapped like every carry).
    * Bucketed and hive-partitioned layouts fall back to a full
    * copy-on-write materialization (their reads need layout artifacts
    * the flat-version link carry can't model). `dst` must not exist. */
  def cloneTable(src: String, dst: String): Unit = {
    require(!exists(dst), s"cloneTable: '$dst' already exists in $root")
    val curV = currentVersion(src)
    val curDir = versionDir(src, curV)
    if (!isFlat(curDir)) {
      commit(Map(dst -> stage(dst, read(src))), expect = Map(dst -> None))
      return
    }
    // the carried files come from src's immutable pinned version, so a
    // concurrent commit on SRC cannot corrupt the clone — only a racing
    // creation of DST itself must refuse
    val (version, _) = stageCarry(dst, curDir, dataFiles(curDir),
      dv = DeleteVectors.load(spark, curDir.toString))
    commit(Map(dst -> version), expect = Map(dst -> None))
  }

  /** RESTORE TABLE … TO VERSION (Delta/Snowflake-style rollback): make
    * an earlier committed version current again — as a NEW commit whose
    * version carries the target's data files as hard links and its
    * sidecars verbatim (the [[cloneTable]] carry pointed at a
    * historical version of the SAME table), so a bad batch is undone in
    * O(file count) metadata work with zero data bytes rewritten, and
    * the botched version STAYS in history for audit: a restore never
    * falsifies lineage — the mistake and the recovery are both
    * committed versions, and [[changesBetween]] can report exactly what
    * the rollback changed. Sidecar carries keep the restored read shape
    * identical (tombstones re-applied, stats pruning intact, version
    * tag rewound WITH the data — a streaming sink's applied-batch
    * high-water mark must move together with the rows it witnessed).
    *
    * Refuses on a version outside the committed lineage (crashed
    * write-ahead garbage is not restorable), on the current version
    * (nothing to do — loud, because a silent no-op would mask a caller
    * bug), and on a version whose directory a retention vacuum already
    * swept — restores never resurrect reclaimed bytes, the
    * [[undropTable]] contract. Bucketed and hive-partitioned versions
    * fall back to a full copy-on-write materialization like
    * [[cloneTable]]. Concurrent writers hit the same detect-and-refuse
    * OCC as every DML ([[commit]] with the pinned expected parent). */
  def restoreTable(table: String, version: String): Unit = {
    val cur = currentVersion(table)
    require(version != cur,
      s"restoreTable: '$version' is already the current version of '$table'")
    if (!committedVersions(table).contains(version))
      throw new IllegalStateException(
        s"restoreTable: '$version' is not a retained committed version of " +
          s"'$table' — never committed, or pruned from bounded history")
    val srcDir = versionDir(table, version)
    if (!Files.exists(srcDir))
      throw new IllegalStateException(
        s"restoreTable: version '$version' of '$table' was already " +
          "vacuumed — restores never resurrect reclaimed bytes")
    if (!isFlat(srcDir)) {
      val v = stage(table, readResolved(table, version))
      // the materialized fallback must still rewind the version tag (a
      // streaming sink's applied-batch high-water mark moves WITH the
      // rows it witnessed — without it a redelivered micro-batch would
      // re-apply after the rollback). The declared schema rides along;
      // the materialized rows already carry the union columns, so it is
      // redundant but consistent.
      carryTag(srcDir, versionDir(table, v))
      commit(Map(table -> v), expect = Map(table -> Some(cur)))
      return
    }
    val (v, _) = stageCarry(table, srcDir, dataFiles(srcDir),
      dv = DeleteVectors.load(spark, srcDir.toString))
    commit(Map(table -> v), expect = Map(table -> Some(cur)))
  }

  /** The [[upsertMoR]] `tag` of the CURRENT version, if it carries one.
    * Atomic with the data by construction (written into the version dir
    * before its one-swap commit), so a streaming sink can read it as
    * the high-water mark of applied micro-batches: a tag is visible
    * exactly when its upsert is. */
  def versionTag(table: String): Option[String] =
    manifest.get(table).map(v => versionDir(table, v).resolve(TagFile))
      .filter(Files.exists(_))
      .map(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8))

  /** Version-aware change data feed: the exact row-level changes
    * between two committed versions connected by verbatim-carry
    * commits (the MoR DML family: [[deleteWhereMoR]], [[upsertMoR]],
    * and any chain of them), read in O(changed files) — never a scan
    * of the unchanged corpus and never a diff join. The insight: on a
    * carry chain the versions share their data files BY NAME, so the
    * changes are fully described by metadata — DELETEs are the
    * tombstones `toV` carries beyond `fromV` (read back from just the
    * files they name), INSERTs are the rows of files appended since
    * `fromV` (minus rows `toV` already tombstoned there: a row
    * inserted and deleted within the span nets to no change). Against
    * [[graft.ops.SnapshotCdc.diff]]'s two full scans plus a key
    * shuffle join, this is the CDC shape that survives a 100 TB table
    * taking a trickle of DML: cost scales with the delta, and it
    * needs no key — upserts surface as DELETE+INSERT pairs (the
    * reference's own stream convention; callers with a key can mark
    * update pairs themselves). Output: the table's columns plus
    * `_action` ('DELETE' | 'INSERT'). Both endpoints stay readable —
    * this is a read, not DML. Refuses (with the SnapshotCdc pointer)
    * when `toV` does not carry every `fromV` file — e.g. across a
    * [[purgeDeletes]] or copy-on-write rewrite, where file identity
    * breaks and snapshot diffing is the honest cost. */
  def changesBetween(table: String, fromV: String, toV: String): DataFrame = {
    val fromDir = versionDir(table, fromV)
    val toDir = versionDir(table, toV)
    require(Files.isDirectory(fromDir) && Files.isDirectory(toDir),
      s"changesBetween: unknown version(s) $fromV/$toV of '$table'")
    val fromNames = dataFiles(fromDir).map(_.getFileName.toString).toSet
    val toNames = dataFiles(toDir).map(_.getFileName.toString).toSet
    require(fromNames.subsetOf(toNames),
      s"changesBetween('$table', $fromV -> $toV): target does not carry " +
        "every source file (a purge or copy-on-write rewrite broke file " +
        "identity) — diff snapshots with graft.ops.SnapshotCdc.diff instead")
    require(toNames.nonEmpty,
      s"changesBetween: version $toV of '$table' holds no data files")
    val action = Schemas.cdcActionCol

    // the target version's declared schema (evolution) governs both the
    // changed-file scans and the CDF's output shape — old-generation
    // changed files null-fill the added columns like any other read
    val dataSchema = declaredSchema(toDir)
      .getOrElse(spark.read.parquet(toDir.toString).schema)
    // a scan of the changed files, joined `how` against tombstones of `toV`
    def scanOf(names: Seq[String], t: Tombstones, how: String) =
      DeleteVectors.join(spark, DeleteVectors.withPosition(
        spark.read.schema(dataSchema).option("basePath", toDir.toString)
          .parquet(names.map(n => toDir.resolve(n).toUri.toString): _*)),
        t, toDir.toString, how)
    val dataCols = dataSchema.fieldNames.toSeq
    def shaped(df: DataFrame, a: String) =
      df.select(dataCols.map(col): _*).withColumn(action, lit(a))
    // a scan-free empty relation: a limit(0) over a file scan would
    // still enlist every file in the plan (and in inputFiles), defeating
    // the O(changed files) structure this read exists for
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(dataSchema.fields :+
        org.apache.spark.sql.types.StructField(action,
          org.apache.spark.sql.types.StringType)))

    // DELETEs: toV tombstones on files fromV already had, minus
    // tombstones fromV already carried — read back from ONLY the files
    // the delta names
    val dvTo = DeleteVectors.load(spark, toDir.toString)
    val delta = dvTo.on(fromNames) -- DeleteVectors.load(spark, fromDir.toString)
    val deletes =
      if (delta.isEmpty) empty
      else shaped(scanOf(delta.files.toSeq.sorted, delta, "left_semi"), "DELETE")

    // INSERTs: files appended since fromV, minus rows toV tombstoned
    // within them (inserted-and-deleted inside the span nets out)
    val appended = (toNames -- fromNames).toSeq
    val inserts =
      if (appended.isEmpty) empty
      else shaped(scanOf(appended, dvTo, "left_anti"), "INSERT")

    deletes.unionByName(inserts)
  }

  /** List a directory through a function, always closing the stream (an
    * unclosed `Files.list` leaks a directory fd per call). */
  private def withListing[T](dir: Path)(f: Iterator[Path] => T): T = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  /** Drop version dirs no longer referenced by the manifest (call between
    * cycles, never during one — late readers may still hold old paths).
    * `retain` keeps that many of the most recently superseded COMMITTED
    * versions per table alongside the current one — the time-travel
    * retention window (Snowflake's `DATA_RETENTION_TIME_IN_DAYS`, by
    * count instead of wall clock); crashed write-ahead versions never
    * reached a manifest, are absent from [[history]], and are swept
    * regardless. Runs under the same manifest lock as [[commit]] — also
    * across processes: the tmp-manifest sweep below must not delete the
    * tmp file of a commit that is between its write and its rename, even
    * when that commit comes from another JVM. */
  def vacuum(retain: Int = 0): Unit = withManifestLock {
    val (current, hist) = readManifest()
    val live = current.map { case (t, v) => versionDir(t, v).toAbsolutePath }.toSet ++
      (if (retain <= 0) Set.empty[Path]
       else hist.flatMap { case (t, vs) =>
         vs.takeRight(retain).map(v => versionDir(t, v).toAbsolutePath)
       }.toSet)
    // prune swept versions from the #hist records FIRST, so the
    // time-travel index ([[committedVersions]]/[[history]]) only ever
    // advertises versions whose directories exist — a crash between this
    // swap and the sweep below just leaves orphan dirs for the next
    // vacuum, never a history entry pointing at a deleted path
    val keptHist = hist
      .map { case (t, vs) =>
        t -> vs.filter(v => live.contains(versionDir(t, v).toAbsolutePath)) }
      .filter(_._2.nonEmpty)
    if (keptHist != hist) writeManifest(current, keptHist)
    if (Files.exists(rootPath)) {
      // stale tmp manifests are the debris of a crash in the one
      // non-atomic window (between tmp-write and rename in [[commit]]):
      // the published manifest is intact, the tmp is garbage — sweep it
      // with the orphaned versions. Never matches the live `_manifest`.
      withListing(rootPath)(_
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("_manifest.tmp-"))
        .foreach(Files.deleteIfExists(_)))
      withListing(rootPath)(_
        .filter(Files.isDirectory(_)).toSeq).foreach { tableDir =>
          withListing(tableDir)(_
            .filter(Files.isDirectory(_))
            .filterNot(d => live.contains(d.toAbsolutePath))
            .toSeq)
            .foreach { d =>
              // bucketed versions also carry a catalog entry (external, so
              // dropping it never touches the files). Drop by COMPUTED
              // name — re-registering a table only to drop it would do
              // pointless catalog work and, pre-fix, threw on empty
              // versions (schema inference with no files).
              if (Files.exists(d.resolve(BucketSpecFile)))
                spark.sql(s"DROP TABLE IF EXISTS ${catalogName(
                  tableDir.getFileName.toString, d.getFileName.toString)}")
              deleteRecursively(d)
            }
        }
    }
  }

  private def deleteRecursively(p: Path): Unit = Fs.deleteRecursively(p)
}

object TableStore {
  /** One monitor per canonical store root, JVM-wide: instances on the
    * same root serialize here before taking the cross-process file lock
    * (see [[TableStore.withManifestLock]]). */
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[core] def rootMonitor(root: Path): Object =
    monitors.computeIfAbsent(
      root.toAbsolutePath.normalize.toString, _ => new Object)

  /** Pinned multi-table read view; see [[TableStore.snapshot]].
    * `versions` is the captured manifest (table → version). */
  final class Snapshot private[core] (store: TableStore,
      val versions: Map[String, String]) {
    def exists(table: String): Boolean = versions.contains(table)
    def version(table: String): Option[String] = versions.get(table)
    /** Read `table` as of the snapshot, regardless of later commits. */
    def read(table: String): DataFrame = versions.get(table) match {
      case Some(v) => store.readResolved(table, v)
      case None => throw new IllegalStateException(
        s"table '$table' does not exist in this snapshot")
    }
  }
}
