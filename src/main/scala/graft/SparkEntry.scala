package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{SimHash, TextFunctions => T, VectorFunctions => V}
import graft.multimodal.Media
import graft.operators.{Dedup, Similarity}
import graft.ops.{Merge, Scd2, SnapshotCdc}

/** Driver contract — the operator inventory of SURVEY.md §2 plus the
  * training-data-pipeline extensions, each as a DataFrame query with (where
  * SQL-expressible) a DuckDB oracle over the same parquet tables.
  *
  * SCD queries synthesize deterministic dimension batches from the
  * `supplier` table (TESTDATA.md §B guidance): batch2 changes the tracked
  * column for suppkey%3=0, the name for suppkey%5=0, and inserts
  * suppkey%4=0 clones at key+100000; batch3 reverts the tracked column.
  * Both the Spark side (running the real Merge/SnapshotCdc/Scd2 operators)
  * and the DuckDB oracle (closed-form CASE/UNION SQL) derive the same
  * batches, so a hash match verifies the engine's semantics, not the data.
  */
object SparkEntry {

  private val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2024-02-01 00:00:00")
  private val t3 = Timestamp.valueOf("2024-03-01 00:00:00")

  // ---- synthesized SCD batches (Scala side) -------------------------------

  private def supplier(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/supplier.parquet")

  /** batch1 = the full dimension as of t1. */
  private def b1(s: SparkSession, dir: String): DataFrame =
    supplier(s, dir).select(
      col("s_suppkey").as("supplier_key"),
      concat(lit("S"), col("s_suppkey").cast("string")).as("supplier_code"),
      col("s_name").as("supplier_name"),
      concat(lit("ST"), (col("s_nationkey") % 25).cast("string")).as("supplier_state"))

  /** batch2 = delta file: changed rows (state for %3, name for %5) + inserts
    * (%4 clones at key+100000). */
  private def b2(s: SparkSession, dir: String): DataFrame = {
    val sup = supplier(s, dir)
    val changed = sup
      .filter(col("s_suppkey") % 3 === 0 || col("s_suppkey") % 5 === 0)
      .select(
        col("s_suppkey").as("supplier_key"),
        concat(lit("S"), col("s_suppkey").cast("string")).as("supplier_code"),
        when(col("s_suppkey") % 5 === 0, concat(col("s_name"), lit("_v2")))
          .otherwise(col("s_name")).as("supplier_name"),
        when(col("s_suppkey") % 3 === 0,
          concat(lit("ST"), ((col("s_nationkey") + 7) % 25).cast("string")))
          .otherwise(concat(lit("ST"), (col("s_nationkey") % 25).cast("string")))
          .as("supplier_state"))
    val inserts = sup.filter(col("s_suppkey") % 4 === 0).select(
      (col("s_suppkey") + 100000).as("supplier_key"),
      concat(lit("S"), (col("s_suppkey") + 100000).cast("string")).as("supplier_code"),
      concat(lit("NEW_SUPPLIER_"), col("s_suppkey").cast("string")).as("supplier_name"),
      concat(lit("ST"), (col("s_nationkey") % 25).cast("string")).as("supplier_state"))
    changed.unionByName(inserts)
  }

  /** batch3 = delta reverting the tracked column for %3 keys (keeps the
    * batch2 name) — the return-to-prior-state scenario of SURVEY.md §4b.1. */
  private def b3(s: SparkSession, dir: String): DataFrame =
    supplier(s, dir).filter(col("s_suppkey") % 3 === 0).select(
      col("s_suppkey").as("supplier_key"),
      concat(lit("S"), col("s_suppkey").cast("string")).as("supplier_code"),
      when(col("s_suppkey") % 5 === 0, concat(col("s_name"), lit("_v2")))
        .otherwise(col("s_name")).as("supplier_name"),
      concat(lit("ST"), (col("s_nationkey") % 25).cast("string")).as("supplier_state"))

  private def emptyStaging(s: SparkSession, like: DataFrame): DataFrame =
    like.limit(0)
      .withColumn("start_date", lit(null).cast("timestamp"))
      .withColumn("end_date", lit(null).cast("timestamp"))
      .withColumn("current_flag", lit(null).cast("string"))

  /** Cycle barrier for the in-memory operator chains: each merge references
    * its staging input twice (close branch + anti branch), so an
    * unmaterialized N-cycle chain duplicates the upstream tree ~2^N times.
    * The real pipeline materializes every cycle to parquet
    * ([[graft.pipeline.ScdPipeline]]); these query-shaped chains truncate
    * lineage the lightweight way instead. */
  private def cycleBarrier(df: DataFrame): DataFrame =
    df.localCheckpoint(true)

  /** Run the real operator chain for two batches, faithful mode. */
  private def scd2After2(s: SparkSession, dir: String): DataFrame = {
    val l1 = cycleBarrier(b1(s, dir))
    val l2 = cycleBarrier(Merge.upsert(l1, b2(s, dir), Seq("supplier_code")))
    val cdc1 = SnapshotCdc.diff(l1.limit(0), l1, Seq("supplier_code"))
    val st1 = cycleBarrier(Scd2.merge(emptyStaging(s, l1), cdc1, t1,
      Seq("supplier_code", "supplier_state")))
    val cdc2 = SnapshotCdc.diff(l1, l2, Seq("supplier_code"))
    Scd2.merge(st1, cdc2, t2, Seq("supplier_code", "supplier_state"))
  }

  /** Three batches, corrected mode (closed-out history never swallows a
    * returning value). */
  private def scd2CorrectedAfter3(s: SparkSession, dir: String): DataFrame = {
    val l1 = cycleBarrier(b1(s, dir))
    val l2 = cycleBarrier(Merge.upsert(l1, b2(s, dir), Seq("supplier_code")))
    val l3 = cycleBarrier(Merge.upsert(l2, b3(s, dir), Seq("supplier_code")))
    val cdc1 = SnapshotCdc.diff(l1.limit(0), l1, Seq("supplier_code"))
    val st1 = cycleBarrier(Scd2.merge(emptyStaging(s, l1), cdc1, t1,
      Seq("supplier_code", "supplier_state"), faithful = false))
    val st2 = cycleBarrier(Scd2.merge(st1,
      SnapshotCdc.diff(l1, l2, Seq("supplier_code")), t2,
      Seq("supplier_code", "supplier_state"), faithful = false))
    Scd2.merge(st2, SnapshotCdc.diff(l2, l3, Seq("supplier_code")), t3,
      Seq("supplier_code", "supplier_state"), faithful = false)
  }

  /** Fact-table-sized dimension batches derived from lineitem, keyed on
    * dim_id = l_orderkey*8 + l_linenumber; the delta changes qty for
    * id%7=0, price for id%5=0, and inserts id%11=0 clones at id+1e9.
    * Mirrored in closed-form SQL for the oracle. */
  private def largeDim(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    // aggregate to a keyed dimension with order-independent (max/min)
    // aggregates so both engines derive bit-identical values. Barrier: base
    // feeds b1, the delta, and (via upsert) the diff — without it the keyed
    // groupBy is recomputed once per reference.
    val base = cycleBarrier(li
      .groupBy((col("l_orderkey") * 8 + col("l_linenumber")).as("dim_id"))
      .agg(max(col("l_quantity")).as("qty"),
        max(col("l_extendedprice")).as("price"),
        min(col("l_returnflag")).as("flag")))
    val changed = base
      .filter(col("dim_id") % 7 === 0 || col("dim_id") % 5 === 0)
      .select(col("dim_id"),
        when(col("dim_id") % 7 === 0, col("qty") + 1).otherwise(col("qty")).as("qty"),
        when(col("dim_id") % 5 === 0, col("price") * 2).otherwise(col("price")).as("price"),
        col("flag"))
    val inserts = base.filter(col("dim_id") % 11 === 0)
      .select((col("dim_id") + 1000000000L).as("dim_id"), col("qty"),
        col("price"), lit("X").as("flag"))
    (base, changed.unionByName(inserts))
  }

  /** Schema of the [[largeDim]] dimension — explicit so stored-layout
    * readers never infer from files (readOrEmpty's contract). */
  private val largeDimSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("dim_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("qty",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("price",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("flag",
      org.apache.spark.sql.types.StringType)))

  /** Build-once bucketed layouts for the store-level upsert: the
    * [[largeDim]] dimension and its delta staged hash-bucketed on the
    * merge key ([[graft.core.TableStore.stageBucketed]]), so the
    * full-outer merge join plans with NO Exchange on either side. The
    * layout is paid once at staging time, so `scd_upsert_stored` measures
    * a merge over tables already stored that way, while
    * `scd_upsert_large` stays the derived-frame twin that pays (and at
    * sf10 showed a 2.7× swing from) the two-sided shuffle. The pipeline
    * itself keeps landing flat on the carry tier: its cycle's merge
    * broadcasts the delta's keys, then tombstones the replaced rows and
    * appends the new images ([[graft.ops.Merge.upsertChanges]]). */
  private[graft] def upsertStoredTables(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // the `v1` token versions the DERIVATION (largeDim's formula), not
    // the data — the content fingerprint only tracks the source
    // parquet, so a formula change without a version bump would
    // silently reuse stale stored tables (the statsStore fixture's
    // '2'-suffix lesson). Bump it whenever largeDim changes.
    val root = fixtureDir("upsert-stored-v1", "lineitem")(dir)
    val store = new graft.core.TableStore(root.toString, s)
    if (!store.exists("dim_base")) {
      val (b1, b2) = largeDim(s, dir)
      store.commit(Map(
        "dim_base" -> store.stageBucketed("dim_base", b1, Seq("dim_id"), 32),
        "dim_delta" -> store.stageBucketed("dim_delta", b2, Seq("dim_id"), 32)))
    }
    (store.readOrEmpty("dim_base", largeDimSchema),
      store.readOrEmpty("dim_delta", largeDimSchema))
  }

  /** Events with a canonical epoch-microsecond `ts_us`, dispatched on the
    * on-disk type of `ts`: parquet µs/ms timestamps arrive as
    * TIMESTAMP/TIMESTAMP_NTZ (converted under the builders' pinned UTC
    * session zone), while nanosecond files read as LongType nanos when
    * `spark.sql.legacy.parquet.nanosAsLong=true` is set on the session
    * (the Bench/Verify/test builders set it). The dispatch is on the
    * schema, not session config — a query builder mutating shared session
    * config is a side effect library code must not have. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val df = s.read.parquet(s"$dir/events.parquet")
    val tsUs = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast("timestamp"))
      case _ => unix_micros(col("ts"))
    }
    df.withColumn("ts_us", tsUs)
  }

  /** Documents with a deterministic synthetic URL (the corpus has none):
    * scheme/subdomain/site/TLD/port/query all keyed off doc_id residues,
    * covering multi-label registries (co.uk, ac.jp), subdomain chains,
    * explicit ports and query strings. The DuckDB oracle constructs the
    * identical strings, so the web_* hash checks verify URL-decomposition
    * semantics cross-engine, not the data (the [[piiDocs]] pattern). */
  private def webDocs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"),
        concat(
          when(col("doc_id") % 2 === 0, lit("https")).otherwise(lit("http")),
          lit("://"),
          when(col("doc_id") % 3 === 1, lit("www."))
            .when(col("doc_id") % 3 === 2, lit("news.blog."))
            .otherwise(lit("")),
          lit("site"), (col("doc_id") % 7).cast("string"), lit("."),
          when(col("doc_id") % 4 === 0, lit("com"))
            .when(col("doc_id") % 4 === 1, lit("co.uk"))
            .when(col("doc_id") % 4 === 2, lit("org"))
            .otherwise(lit("ac.jp")),
          when(col("doc_id") % 5 === 0, lit(":8080")).otherwise(lit("")),
          lit("/p/"), col("doc_id").cast("string"),
          when(col("doc_id") % 6 === 0,
            concat(lit("?q="), (col("doc_id") % 10).cast("string")))
            .otherwise(lit(""))).as("url"))

  /** Documents with deterministic synthetic PII appended (the corpus has
    * none): email always, ipv4 on doc_id%2=0, phone on %3=0, ssn on %5=0.
    * The DuckDB oracle constructs the identical strings, so the pii_*
    * hash checks verify regex semantics cross-engine, not the data. */
  private def piiDocs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
      when(col("doc_id") % 2 === 0, concat(lit(" from 10."),
        (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 100).cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 3 === 0, concat(lit(" tel 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-0142")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, concat(lit(" ssn 078-05-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))).as("text"))

  /** Root for build-once fixtures (stored indexes, replay corpora, MV
    * seeds). Project-local by default — NOT `java.io.tmpdir`: host /tmp
    * sweeps between sessions deleted persisted fixtures, so every
    * post-sweep bench re-timed first builds (262 s stream-maint build,
    * 16.5 s cold `curation_chunks` at sf10) and sub-second rows read
    * 1.5–2× until caches re-warmed. Content-fingerprinted names keep
    * staleness handling unchanged; `SPARK_GRAFT_FIXTURE_DIR` overrides
    * for hosts where the working tree must stay clean. Everything under
    * it is rebuildable — safe to `rm -rf` to reclaim space (see
    * tools/README.md). Public so the dev tools list the same root. */
  lazy val fixtureRoot: String = {
    val root = sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR",
      java.nio.file.Paths.get(sys.props("user.dir"), ".fixtures").toString)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    root
  }

  /** Cache key for the build-once-probe-many driver queries
    * (`scd_cdc_stored`, `knn_lsh_indexed`): a content fingerprint of the
    * source parquet — full absolute path plus every file's name, size, and
    * mtime. Regenerated test data at the same path changes the
    * fingerprint, so a stale index/snapshot is never silently reused (the
    * earlier key, `dir.hashCode` alone, reused whatever was on disk). */
  private def corpusFingerprint(source: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val p = java.nio.file.Paths.get(source).toAbsolutePath
    md.update(p.toString.getBytes("UTF-8"))
    if (java.nio.file.Files.exists(p)) {
      val files = java.nio.file.Files.walk(p)
      try files.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .toSeq.sortBy(_.toString)
        .foreach { f =>
          md.update(s"$f|${java.nio.file.Files.size(f)}|${
            java.nio.file.Files.getLastModifiedTime(f).toMillis}"
            .getBytes("UTF-8"))
        }
      finally files.close()
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** The one location rule for build-once state: `graft-<tag>-` plus the
    * fingerprint of the `<table>` parquet it derives from. The
    * fingerprint tracks the data, not the code, so a change to what a
    * build writes bumps the version token in its tag (`invidx2`,
    * `mvjaccard-v1`), or the old directory is silently reused. */
  private def fixtureDir(tag: String, table: String)(
      dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(fixtureRoot,
      s"graft-$tag-" + corpusFingerprint(s"$dir/$table.parquet"))

  /** A build-once fixture behind indexed, replayed or MV rows, declared
    * once: its bench name, its [[fixtureDir]], the completion markers
    * that gate reuse (`done`, relative to the directory) and its build,
    * which runs only while a marker is missing. A build that writes its
    * markers last is never reused half-finished. An empty `done` means
    * the build gates itself, as the TableStore fixtures do table by
    * table; `ensure` then always calls it.
    *
    * The bench mains account BUILD time apart from probe time
    * (`<name>_build` rows): an index amortizes its build over many
    * probes, so folding the one-time build into the first timed probe
    * run (the pre-round-9 accounting) made the indexed rows look
    * corpus-dependent in the scale soaks even though the probe itself
    * is partition-pruned and ~flat across scale factors. `loc` computes
    * the location WITHOUT building (so a bench can delete it for a
    * cold-build measurement); `ensure` is the build-on-miss accessor the
    * queries call through `path`.
    *
    * Two accounting classes: an INDEX is deleted and cold-rebuilt every
    * bench (its cold-build cost is the number users compare against the
    * probe); a persisted FIXTURE (`persistAcrossBenches`) is built once
    * per corpus and kept — re-timing it each run re-measures fixed
    * replay machinery the spec and oracle row already pin, at the cost
    * of drowning the artifact (the 48-batch maintained-stream replay
    * alone was 26% of the sf0.1 bench wall). A fixture's first-ever
    * build on a host is still timed and reported; after that `built`
    * short-circuits the row. */
  final class Fixture private[SparkEntry] (val name: String, tag: String,
      table: String, done: Seq[String],
      val persistAcrossBenches: Boolean = false)(
      build: (SparkSession, String, java.nio.file.Path) => Unit) {
    def loc(dir: String): java.nio.file.Path = fixtureDir(tag, table)(dir)
    private def complete(at: java.nio.file.Path): Boolean =
      done.nonEmpty && done.forall(m => java.nio.file.Files.exists(at.resolve(m)))
    def built(dir: String): Boolean = complete(loc(dir))
    def ensure(spark: SparkSession, dir: String): Unit = { path(spark, dir); () }
    private[graft] def path(spark: SparkSession, dir: String): String = {
      val at = loc(dir)
      if (!complete(at)) build(spark, dir, at)
      at.toString
    }
  }

  /** The [[graft.core.TableStore]] a store fixture built: its directory,
    * or `store/` under a [[graft.streaming.StoreStream.upsertReplay]]
    * work dir. */
  private def storeOf(f: Fixture, s: SparkSession, dir: String,
      sub: String = ""): graft.core.TableStore =
    new graft.core.TableStore(f.path(s, dir) + sub, s)

  /** The term-bucketed inverted index over `documents`. Reuse is gated
    * on the `_stats` sidecar's `_SUCCESS` marker — the LAST artifact
    * `writeInvertedIndex` produces — so a partial build (postings
    * written, sidecar missing) is rebuilt, never reused. Shared by the
    * conjunctive search, indexed BM25, and hybrid RRF queries, so one
    * bench run builds the index once. */
  private val invertedIndex = new Fixture("index_inverted", "invidx2",
      "documents", Seq("_stats/_SUCCESS"))((s, dir, path) =>
    graft.operators.Keywords.writeInvertedIndex(
      s.read.parquet(s"$dir/documents.parquet"), path.toString))

  /** The portable-plane LSH index over `embeddings`. Reuse is gated on
    * the write's `_SUCCESS` marker, not bare existence: an interrupted
    * writeLshIndexPortable leaves a partial directory that bare
    * Files.exists would reuse forever. Shared by the indexed-ANN query
    * and the hybrid RRF fusion. */
  private val lshPortableIndex = new Fixture("index_lsh_portable",
      "lsh-pindex", "embeddings", Seq("_SUCCESS"))((s, dir, path) =>
    graft.operators.Similarity.writeLshIndexPortable(
      s.read.parquet(s"$dir/embeddings.parquet"), path.toString))

  /** The Gaussian 6-plane × 4-table LSH index (`knn_lsh_indexed`'s
    * perf-default index). Gated on the ROOT `_SUCCESS`: the 4 tables
    * land in ONE (table, bucket)-partitioned write whose commit marker
    * is the root's, so a crash mid-build leaves no marker and the whole
    * index is rebuilt instead of a partial directory being reused. */
  private val lsh6Index = new Fixture("index_lsh6", "lsh-index",
      "embeddings", Seq("_SUCCESS"))((s, dir, path) =>
    graft.operators.Similarity.writeLshIndex(
      s.read.parquet(s"$dir/embeddings.parquet"), path.toString, numPlanes = 6))

  /** The portable-codebook PQ codes index. */
  private val pqIndex = new Fixture("index_pq", "pq-pindex", "embeddings",
      Seq("codes/_SUCCESS"))((s, dir, path) =>
    graft.operators.Similarity.pqPortable()
      .write(s.read.parquet(s"$dir/embeddings.parquet"), path.toString))

  /** The positional index (gated on the `_meta` sidecar's `_SUCCESS` —
    * the LAST artifact the write produces). */
  private val posIndex = new Fixture("index_pos", "posidx", "documents",
      Seq("_meta/_SUCCESS"))((s, dir, path) =>
    graft.operators.Keywords.writePositionalIndex(
      s.read.parquet(s"$dir/documents.parquet"), path.toString))

  /** The positional index exercised through its write-then-append
    * maintenance path. */
  private val posAppend = new Fixture("index_pos_append", "posidx-app",
      "documents", Seq("_APPEND_DONE"))((s, dir, path) => {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val mid = docs.agg(max("doc_id")).head.getLong(0) / 2
    graft.operators.Keywords.writePositionalIndex(
      docs.filter(col("doc_id") <= mid), path.toString)
    graft.operators.Keywords.appendToPositionalIndex(
      docs.filter(col("doc_id") > mid), path.toString)
    java.nio.file.Files.createFile(path.resolve("_APPEND_DONE"))
  })

  /** The PQ index exercised through its write-then-append maintenance
    * path (second half encoded by the REHYDRATED index — the pqLoad
    * round trip the append contract prescribes). */
  private val pqAppend = new Fixture("index_pq_append", "pq-app",
      "embeddings", Seq("_APPEND_DONE"))((s, dir, path) => {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val mid = e.agg(max("vec_id")).head.getLong(0) / 2
    graft.operators.Similarity.pqPortable()
      .write(e.filter(col("vec_id") <= mid), path.toString)
    graft.operators.Similarity.pqLoad(s, path.toString)
      .append(e.filter(col("vec_id") > mid), path.toString)
    java.nio.file.Files.createFile(path.resolve("_APPEND_DONE"))
  })

  /** The stored bigram-backoff model (trained on the even-doc_id slice —
    * the same split the inline text_surprisal derives its counts from). */
  private val ngramModel = new Fixture("index_ngram_model", "ngram",
      "documents", Seq("_stats/_SUCCESS"))((s, dir, path) =>
    graft.operators.Keywords.writeNgramModel(
      s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 2 === 0), path.toString))

  /** The inverted index exercised through its write-then-append
    * maintenance path: first half of the corpus built, second half
    * appended (`Keywords.appendToInvertedIndex` — only the batch is
    * tokenized). Append ≡ rebuild exactly, so probes against this index
    * hash-match the full-corpus BM25 oracle. */
  private val invertedAppend = new Fixture("index_inverted_append",
      "invidx-app", "documents", Seq("_APPEND_DONE"))((s, dir, path) => {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val mid = docs.agg(max("doc_id")).head.getLong(0) / 2
    graft.operators.Keywords.writeInvertedIndex(
      docs.filter(col("doc_id") <= mid), path.toString)
    graft.operators.Keywords.appendToInvertedIndex(
      docs.filter(col("doc_id") > mid), path.toString)
    java.nio.file.Files.createFile(path.resolve("_APPEND_DONE"))
  })

  /** The IVF index exercised through its write-then-append maintenance
    * path (first half written, second half appended — frozen centers
    * make append ≡ rebuild exactly). */
  private val ivfAppend = new Fixture("index_ivf_append", "ivf-append",
      "embeddings", Seq("_APPEND_DONE"))((s, dir, path) => {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val idx = graft.operators.Similarity.IvfIndex(
      graft.functions.VectorFunctions.portableCentroids(8, 64))
    val mid = e.agg(max("vec_id")).head.getLong(0) / 2
    idx.write(e.filter(col("vec_id") <= mid), path.toString)
    idx.append(e.filter(col("vec_id") > mid), path.toString)
    java.nio.file.Files.createFile(path.resolve("_APPEND_DONE"))
  })

  /** The stats-pruned orders store: one [[graft.core.TableStore]]
    * version of `orders` clustered on `o_orderdate` (so each file covers
    * a tight date range) with a [[graft.core.FileStats]] sidecar —
    * min/max zone maps on `o_orderdate`, a per-file bloom on the
    * hash-scattered `o_custkey`. Reuse is gated on the store manifest,
    * which the build writes LAST and atomically, so a partial build
    * (version staged, sidecar or commit missing) is rebuilt, never
    * reused. The tag's "2": manifests without #hist records predate
    * committedVersions — a pre-history store at the same fingerprint
    * must not be reused. */
  private val statsStore = new Fixture("index_store_stats", "storestats2",
      "orders", Nil)((s, dir, path) => {
    val store = new graft.core.TableStore(path.toString, s)
    // the four tables are independent build chains — overlapped
    // ([[graft.core.Overlap]]; each commit merges the manifest under the
    // store's lock); each chain keeps its own gates so crash-resume
    // converges per table exactly as before
    val ordersChain = () => if (!store.exists("orders")) {
      val o = s.read.parquet(s"$dir/orders.parquet")
      // 4 Mibit blooms: at the sf10 soak's ~1M rows/file the default
      // 64 Kibit filter would saturate (fill → 1, zero pruning); 2^22
      // bits keeps fill ≤ ~50% there (per-file fp ≤ ~12%) while the
      // sparse word-map stays kilobytes at the small SFs
      store.commit(Map("orders" -> store.stageWithStats("orders",
        o.repartitionByRange(16, col("o_orderdate"))
          .sortWithinPartitions(col("o_orderdate")),
        statsCols = Seq("o_orderdate"), bloomCols = Seq("o_custkey"),
        bloomBitsLog2 = 22)))
    }
    // a second table with TWO committed versions (even-key half, then
    // the full table) for the time-travel query: versions are immutable
    // and commit-ordered, so the pre-overwrite snapshot stays readable
    // until vacuum — gated separately so stores built before this table
    // existed pick it up on next access
    val historyChain = () => if (!store.exists("orders_history")) {
      val o = s.read.parquet(s"$dir/orders.parquet")
      store.commit(Map("orders_history" -> store.stage("orders_history",
        o.filter(col("o_orderkey") % 2 === 0))))
      store.commit(Map("orders_history" -> store.stage("orders_history", o)))
    }
    // orders_restore: even-key half → full overwrite → RESTORE to the
    // first version, so the CURRENT read must land back on the even half
    // while all three generations stay committed. Each step is gated on
    // the observable version count, so a build interrupted at any prefix
    // converges on the next access instead of reusing a half-built state
    val restoreChain = () => {
      if (!store.exists("orders_restore"))
        store.commit(Map("orders_restore" -> store.stage("orders_restore",
          s.read.parquet(s"$dir/orders.parquet")
            .filter(col("o_orderkey") % 2 === 0))))
      if (store.committedVersions("orders_restore").size == 1)
        store.commit(Map("orders_restore" -> store.stage("orders_restore",
          s.read.parquet(s"$dir/orders.parquet"))))
      if (store.committedVersions("orders_restore").size == 2)
        store.restoreTable("orders_restore",
          store.committedVersions("orders_restore").head)
    }
    // orders_z: the Z-ORDER clustered twin for multi-column pruning —
    // range-partitioned on the Morton interleave of (quantized
    // o_orderdate, quantized o_custkey), statted on BOTH columns, so a
    // two-dimensional box query skips files in each dimension at once
    // (the single-column date layout above leaves every custkey
    // predicate a full scan of the date-surviving files). Quantization
    // bounds come from the data (build-side only: the layout never
    // affects results, FileStats re-applies the exact predicate).
    val zChain = () => if (!store.exists("orders_z")) {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val dateUs = unix_micros(col("o_orderdate").cast("timestamp"))
        .cast("double")
      val ck = col("o_custkey").cast("double")
      val b = o.agg(min(dateUs), max(dateUs), min(ck), max(ck)).head()
      val z = graft.operators.Layout.zValue(Seq(
        graft.operators.Layout.quantizeMinMax(
          dateUs, b.getDouble(0), b.getDouble(1), bits = 16),
        graft.operators.Layout.quantizeMinMax(
          ck, b.getDouble(2), b.getDouble(3), bits = 16)))
      store.commit(Map("orders_z" -> store.stageWithStats("orders_z",
        o.withColumn("__z", z)
          .repartitionByRange(16, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z"),
        statsCols = Seq("o_orderdate", "o_custkey"))))
    }
    graft.core.Overlap.run(Seq(ordersChain, historyChain, restoreChain, zChain))
  })

  /** The merge-on-read / metadata-aggregate store: four tables built
    * from `orders`, each with a [[graft.core.FileStats]] sidecar on
    * `o_totalprice` (+ `o_custkey` for the stats table).
    *
    *  - `orders_stats`: untouched — the [[graft.core.TableStore.statsAgg]]
    *    metadata-only aggregate target.
    *  - `orders_mor`: a merge-on-read DELETE of the price tail
    *    (`o_totalprice > 450000`, ~10% of rows) committed as a
    *    [[graft.core.DeleteVectors]] sidecar — data files carried
    *    verbatim, tombstones applied by the read's anti-join. Stays
    *    DV'd, so `store_delete_mor` measures the DV-aware read.
    *  - `orders_purge`: the same delete then [[graft.core.TableStore.purgeDeletes]]
    *    — tombstones materialized by rewriting only the DV'd files
    *    (the price-clustered layout concentrates them in the top
    *    range files), back to a plain version.
    *
    * Reuse is gated on the store manifest (written last, atomically),
    * and the build's delete/purge are content-idempotent, so a
    * repeated build or a re-run against a built store converges on
    * the same content — which one oracle (the plain filtered
    * aggregate) checks for both the DV'd and the purged table. */
  private val morStore = new Fixture("index_store_mor", "storemor",
      "orders", Nil)((s, dir, path) => {
    val store = new graft.core.TableStore(path.toString, s)
    // ONE pass computes the range-clustered layout all four tables stage
    // from (was a `def`: four repartitionByRange+sort recomputations of
    // the same 16-partition relation), and the four per-table build
    // chains overlap (guide §2.6) — the build wall was the SUM of ~80
    // small sequential jobs; per-table gates and content-idempotent
    // delete/purge/upsert keep crash-resume semantics unchanged.
    val needStage = !Seq("orders_stats", "orders_mor", "orders_purge",
      "orders_merge").forall(store.exists)
    val clustered: Option[DataFrame] =
      if (needStage) Some(s.read.parquet(s"$dir/orders.parquet")
        .repartitionByRange(16, col("o_totalprice"))
        .sortWithinPartitions(col("o_totalprice"))
        .localCheckpoint(true))
      else None
    def clusteredDf = clustered.get
    val pred = col("o_totalprice") > lit(450000.0)
    val statsChain = () => if (!store.exists("orders_stats"))
      store.commit(Map("orders_stats" -> store.stageWithStats("orders_stats",
        clusteredDf, statsCols = Seq("o_totalprice", "o_custkey"))))
    val morChain = () => {
      if (!store.exists("orders_mor")) {
        store.commit(Map("orders_mor" -> store.stageWithStats("orders_mor",
          clusteredDf, statsCols = Seq("o_totalprice"))))
        store.deleteWhereMoR("orders_mor", pred)
      }
      // orders_mor_clone: a zero-copy CLONE of the DV'd table — data
      // files hard-linked, tombstone sidecar carried, so the clone reads
      // exactly what its source read at clone time. Lives on the mor
      // chain: it must see the DV'd orders_mor.
      if (!store.exists("orders_mor_clone"))
        store.cloneTable("orders_mor", "orders_mor_clone")
    }
    val purgeChain = () => if (!store.exists("orders_purge")) {
      store.commit(Map("orders_purge" -> store.stageWithStats("orders_purge",
        clusteredDf, statsCols = Seq("o_totalprice"))))
      store.deleteWhereMoR("orders_purge", pred)
      store.purgeDeletes("orders_purge")
      ()
    }
    // orders_merge: a merge-on-read UPSERT — key-synthesized updates
    // (every 97th key: replaced, status 'U') and inserts (every 101st
    // key shifted by 1e11 out of the domain, status 'N') land as tombstones +
    // appended files, zero carried bytes rewritten. Batch is derived
    // from the key domain alone (key-unique, closed-form), so the
    // oracle replays it verbatim.
    val mergeChain = () => if (!store.exists("orders_merge")) {
      store.commit(Map("orders_merge" -> store.stageWithStats("orders_merge",
        clusteredDf, statsCols = Seq("o_totalprice"))))
      val o = s.read.parquet(s"$dir/orders.parquet")
      val ts = tsLit(o, "o_orderdate", "1999-01-01 00:00:00")
      def synth(keys: DataFrame, keyExpr: Column, status: String) =
        keys.select(keyExpr.as("o_orderkey"),
          (col("o_orderkey") % 1000).as("o_custkey"),
          lit(status).as("o_orderstatus"),
          ((col("o_orderkey") % 9999).cast("double") + 0.5).as("o_totalprice"),
          ts.as("o_orderdate"),
          lit("X-MERGED").as("o_orderpriority"))
      val upd = synth(o.select(col("o_orderkey"))
          .filter(col("o_orderkey") % 97 === 0).distinct(),
        col("o_orderkey"), "U")
      // insert keys shifted clear of every corpus's key domain (the
      // deep-replication soaks reach ~1e10); the oracle never sees the
      // shifted key — insert payloads derive from the ORIGINAL key
      val ins = synth(o.select(col("o_orderkey"))
          .filter(col("o_orderkey") % 101 === 0).distinct(),
        col("o_orderkey") + 100000000000L, "N")
      store.upsertMoR("orders_merge", upd.unionByName(ins), Seq("o_orderkey"))
      ()
    }
    graft.core.Overlap.run(Seq(statsChain, morChain, purgeChain, mergeChain))
    clustered.foreach(Dedup.releaseCheckpoint)
  })

  /** Streaming-MERGE replay (StoreStream.upsertReplay): `orders` seeded
    * price-clustered, then three key-synthesized CDC slices stream in as
    * micro-batches — one stop/start cycle each, every batch applied as a
    * TAGGED merge-on-read upsert with the batch id as the exactly-once
    * high-water mark. Slices overlap (keys divisible by 24 are hit by
    * all three), so the final table witnesses last-wins ordering, not
    * just application: the oracle's CASE replays exactly "the LAST slice
    * containing the key wins". Gated on `_replay_done`, the marker the
    * replay writes last (and checks itself). */
  private val streamMor = new Fixture("index_stream_mor", "streammor",
      "orders", Seq("_replay_done"))((s, dir, path) => {
    val o = s.read.parquet(s"$dir/orders.parquet")
    val ts = tsLit(o, "o_orderdate", "1999-06-01 00:00:00")
    def slice(m: Long, status: String, bump: Double) =
      o.select(col("o_orderkey"))
        .filter(col("o_orderkey") % m === 0).distinct()
        .select(col("o_orderkey"),
          (col("o_orderkey") % 1000).as("o_custkey"),
          lit(status).as("o_orderstatus"),
          ((col("o_orderkey") % 999).cast("double") + bump).as("o_totalprice"),
          ts.as("o_orderdate"),
          lit("S-STREAM").as("o_orderpriority"))
    graft.streaming.StoreStream.upsertReplay(s,
      o.repartitionByRange(8, col("o_totalprice"))
        .sortWithinPartitions(col("o_totalprice")),
      Seq(slice(4, "A", 0.5), slice(6, "B", 1000.5), slice(8, "C", 2000.5)),
      Seq("o_orderkey"), path.toString, "orders_live")
  })

  /** How many micro-batches the maintained replay drives and its
    * OPTIMIZE cadence — shared between the builder and the oracle. */
  private val StreamMaintBatches = 48
  private val StreamMaintEvery = 8

  /** LONG-RUN streaming-MERGE replay with scheduled maintenance: 48
    * micro-batches (one per slice file, `maxFilesPerTrigger 1`) across 6
    * stop/start cycles, and every 8th applied batch the sink itself runs
    * OPTIMIZE ([[graft.core.TableStore.purgeDeletes]] +
    * [[graft.core.TableStore.compactSmallFiles]]) — the production
    * trajectory where a MoR sink would otherwise grow one small file
    * plus one deletion vector per batch forever. Batch i rewrites the
    * DISJOINT key residue `o_orderkey % 997 == i+1` (status 'M', price
    * `(o_orderkey % 999) + i`), so the batch last-wins merge has a ONE-
    * CASE closed form any SQL engine replays — and every batch still
    * tombstones base rows, so the DV/file-count trajectory is real.
    * Disjointness keeps the oracle trivial; the overlapping-slices row
    * ([[streamMor]]) already witnesses last-wins ordering.
    *
    * A persisted fixture, not a cold-timed index: the 48-batch /
    * 6-cycle replay is a one-time corpus fixture whose build semantics
    * the spec and the `stream_upsert_maintained_oracled` row pin;
    * `index_stream_mor` stays the cold-timed representative of the
    * stream-replay build family. */
  private val streamMaint = new Fixture("index_stream_maint", "streammaint",
      "orders", Seq("_replay_done"), persistAcrossBenches = true)(
      (s, dir, path) => {
    val o = s.read.parquet(s"$dir/orders.parquet")
    val ts = tsLit(o, "o_orderdate", "1999-06-01 00:00:00")
    def slice(i: Int) =
      o.select(col("o_orderkey"))
        .filter(col("o_orderkey") % 997 === (i + 1).toLong).distinct()
        .select(col("o_orderkey"),
          (col("o_orderkey") % 1000).as("o_custkey"),
          lit("M").as("o_orderstatus"),
          ((col("o_orderkey") % 999).cast("double") + i).as("o_totalprice"),
          ts.as("o_orderdate"),
          lit("S-MAINT").as("o_orderpriority"))
    graft.streaming.StoreStream.upsertReplay(s,
      o.repartitionByRange(8, col("o_totalprice"))
        .sortWithinPartitions(col("o_totalprice")),
      (0 until StreamMaintBatches).map(slice),
      Seq("o_orderkey"), path.toString, "orders_maint",
      // 4 MiB target: above the per-batch appends at every SF (so ticks
      // really bin-pack) and below the sf1+ base files (so those are
      // CARRIED, pinning the O(work since last tick) claim at scale)
      maintainEvery = StreamMaintEvery, targetBytes = 4L << 20,
      filesPerCycle = StreamMaintEvery)
  })

  // ---- incremental-MV build surfaces: the one-time MV seed (and, for
  // the CDC aggregate, the ARRIVED delta — in production the stream/CDF
  // hands it over precomputed) persisted once per corpus, so the
  // incremental_* rows time PURE refreshes. Same accounting split the
  // stored indexes got in round 9: the seed amortizes over every
  // refresh, so folding it into the timed row made O(delta+groups)
  // refreshes read as corpus-scale in the soaks.

  /** Seed of the CDC-maintained aggregate MV: the per-flag aggregate of
    * the FIRST snapshot plus the CDC delta (diff of the two largeDim
    * snapshots) as it would arrive from the stream. The two writes are
    * independent given the checkpointed base, so they overlap
    * ([[graft.core.Overlap]]); reuse is gated on BOTH `_SUCCESS` markers (the
    * writes race, so neither is "last"), and both writes are
    * mode(overwrite), so a partial build converges on the next access
    * instead of being mistaken for a finished one. */
  private val mvAgg = new Fixture("index_mv_agg", "mvagg", "lineitem",
      Seq("_mv/_SUCCESS", "_delta/_SUCCESS"))((s, dir, path) => {
    val (b1, b2) = largeDim(s, dir)
    val merged = Merge.upsert(b1, b2, Seq("dim_id"))
    graft.core.Overlap.run(Seq(
      () => graft.ops.IncrementalAgg
        .fullAggregate(b1, Seq("flag"), Seq("qty", "price"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path.resolve("_mv").toString),
      () => SnapshotCdc.diff(b1, merged, Seq("dim_id"))
        .write.mode("overwrite").parquet(path.resolve("_delta").toString)))
  })

  /** Seed of the sketch-backed DISTINCT MV: one HLL sketch per
    * event_type over the first half-window — mergeable state, so the
    * refresh unions the arriving inserts' sketch in O(batch + groups)
    * without this pass ever re-running. */
  private val mvDistinct = new Fixture("index_mv_distinct", "mvdistinct",
      "events", Seq("_SUCCESS"))((s, dir, path) => {
    val ev = events(s, dir)
      .withColumn("day", to_date(timestamp_micros(col("ts_us"))))
    graft.ops.IncrementalAgg.fullDistinctSketch(
        ev.filter(col("day") <= lit("2024-01-15")),
        Seq("event_type"), "user_id")
      .coalesce(1)
      .write.mode("overwrite").parquet(path.toString)
  })

  /** Seed of the incremental-dedup band table: (band, id) rows of the
    * already-ingested corpus slice, built once — each arriving batch
    * probes it and appends its own bands, never re-shingling history. */
  private val mvMinhash = new Fixture("index_mv_minhash", "mvminhash",
      "documents", Seq("_SUCCESS"))((s, dir, path) =>
    Dedup.minhashBandTable(
        s.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 250),
        portable = true)
      .write.mode("overwrite").parquet(path.toString))

  /** Stored side of EXACT-Jaccard incremental admission: the rarity-
    * ordered prefix index + the full shingle sets of the ingested docs
    * (< 250), built once per corpus (gated on the sets, written last;
    * derivation version token in the tag). */
  private val mvJaccard = new Fixture("index_mv_jaccard", "mvjaccard-v1",
      "documents", Seq("sets/_SUCCESS"))((s, dir, path) => {
    val ingested = s.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 250)
    Dedup.jaccardPrefixIndex(ingested)
      .write.mode("overwrite").parquet(path.resolve("prefix").toString)
    Dedup.jaccardShingleSets(ingested)
      .write.mode("overwrite").parquet(path.resolve("sets").toString)
  })

  /** Seed of the incremental-cluster assignment: the transitive closure
    * of band-agreement pairs over the stored band table (no corpus
    * text), built once — each arriving batch folds in via
    * [[Dedup.incrementalClusters]] touching only collided clusters. */
  private val mvCluster = new Fixture("index_mv_cluster", "mvcluster",
      "documents", Seq("_SUCCESS"))((s, dir, path) =>
    Dedup.clustersFromBands(s.read.parquet(mvMinhash.path(s, dir)))
      .coalesce(1).write.mode("overwrite").parquet(path.toString))

  /** The quarantine corpus as a STORED fixture: decodable MPNG AVIs
    * (%4=0) and PCM16 WAVs (%4=2) interleaved with codec-compressed
    * MP4s (%4=1) and mislabeled text-byte "images" (%4=3) —
    * synthesized ONCE per corpus (the AVI frames are ImageIO
    * PNG-encoded: fixture construction, not the measured operator) so
    * the quarantine row times the pure sniff+decode routing probes. */
  private val mediaMix = new Fixture("index_media_mix", "mediamix",
      "documents", Seq("_SUCCESS"))((s, dir, path) => {
    import s.implicits._
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val badImages = docs.filter(col("doc_id") % 4 === 3)
      .select(col("doc_id").as("media_id"), lit("image").as("kind"),
        encode(concat(lit("txt:"), col("text")), "UTF-8").as("payload"),
        col("source").as("meta_source"))
      .as[graft.multimodal.Media.MediaFile]
    graft.multimodal.Media
      .synthesizeMpngAvis(docs.filter(col("doc_id") % 4 === 0))
      .unionByName(graft.multimodal.Media
        .synthesizeMp4s(docs.filter(col("doc_id") % 4 === 1)))
      .unionByName(graft.multimodal.Media
        .synthesizeWavs(docs.filter(col("doc_id") % 4 === 2)))
      .unionByName(badImages)
      .write.mode("overwrite").parquet(path.toString)
  })

  /** A timestamp literal in the exact flavor (TIMESTAMP vs
    * TIMESTAMP_NTZ) the parquet column reads as, so range predicates
    * compare natively against both the data and its sidecar min/max
    * (sessions are pinned UTC, making the two flavors agree). */
  private def tsLit(df: DataFrame, c: String, v: String): Column =
    lit(v).cast(df.schema(c).dataType)

  /** Every [[Fixture]] by bench name: the bench mains cold-time each
    * build as its `<name>_build` row. */
  def indexSurfaces: Map[String, Fixture] = Seq(invertedIndex,
    lshPortableIndex, lsh6Index, pqIndex, ivfAppend, invertedAppend,
    ngramModel, posIndex, posAppend, pqAppend, statsStore, morStore,
    streamMor, streamMaint, mvAgg, mvDistinct, mvMinhash, mvJaccard,
    mvCluster, mediaMix).map(f => f.name -> f).toMap

  private def queryVec(s: SparkSession, dir: String): Seq[Float] =
    s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)

  // ---- driver contract ----------------------------------------------------

  /** Flagship: the two-batch SCD2 history on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    scd2After2(spark, "/root/testdata/sf0.001")
      .orderBy("supplier_key", "start_date", "supplier_state")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- relational core (S7/P1/P2/A) ------------------------------------
    "q01_pricing_summary" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q02_filter_project" -> ((s, dir) => {
      s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy("c_custkey")
    }),

    // -- join + agg + sort/limit (J/O1) ----------------------------------
    "q03_top_customers" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    "q04_sort_limit" -> ((s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // -- set op (U1) ------------------------------------------------------
    "q05_union" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val a = o.filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000)
      val b = o.filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") < 50000)
      a.unionByName(b)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey"), col("o_totalprice"))
    }),

    // -- disjunctive predicate (P3) ---------------------------------------
    "q06_disjunctive_filter" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_returnflag") =!= "N" || col("l_tax") > 0.05)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_extendedprice")), 2).as("sum_base"))
        .orderBy("l_returnflag")
    }),

    "q10_revenue_by_nation" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // -- window functions over the events stream table --------------------
    "q07_event_gaps" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("next_us", lead(col("ts_us"), 1).over(w))
        .withColumn("gap_us", col("next_us") - col("ts_us"))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    "q08_latest_event" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy("user_id")
    }),

    // PERF DEFAULT: KLL-sketch quantiles (k=200 ⇒ ~1.65% rank error,
    // bounded sketch state per task regardless of value cardinality).
    // The built-in exact percentile() accumulates a value→count map per
    // group per task — for a continuous measure the map IS the column,
    // and the sf10 soak measured the merge cost at 26× for 10× data
    // (80 s); the sketch path's state is O(k·log n) bytes. Exact
    // interpolated quantiles stay available as q13_percentiles_oracled
    // (hash-checked vs quantile_cont) and as the sort-based
    // q14_percentiles_sorted; the sketch's rank-error CONTRACT is
    // pinned by sketch_quantiles_merged's oracle booleans.
    "q13_percentiles" -> ((s, dir) => {
      import graft.functions.QuantileSketch._
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(kllAgg(col("l_extendedprice").cast("double")).as("__sk"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"))
        .select(col("l_returnflag"),
          round(kllQuantile(col("__sk"), 0.5), 4).as("p50"),
          round(kllQuantile(col("__sk"), 0.9), 4).as("p90"),
          col("sd_qty"))
        .orderBy("l_returnflag")
    }),

    // the exact twin: interpolated percentiles matching quantile_cont,
    // hash-checked. ONE percentile buffer for both quantiles (the array
    // form): two scalar percentile() calls would each accumulate their
    // own value-count map over the same column — double the aggregation
    // state for identical inputs
    "q13_percentiles_oracled" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, array(0.5D, 0.9D))").as("__p"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"))
        .select(col("l_returnflag"),
          round(element_at(col("__p"), 1), 4).as("p50"),
          round(element_at(col("__p"), 2), 4).as("p90"),
          col("sd_qty"))
        .orderBy("l_returnflag")
    }),

    // the same exact quantiles through the SORT-based operator — the
    // 100 TB path: the built-in percentile's per-group value map IS the
    // column for a continuous measure, while a range-partitioned parallel
    // sort spreads even a single group across every core
    // (graft.operators.Percentiles.exactByGroupSorted)
    "q14_percentiles_sorted" -> ((s, dir) => {
      graft.operators.Percentiles.exactByGroupSorted(
          s.read.parquet(s"$dir/lineitem.parquet"),
          Seq("l_linestatus"), "l_discount", Seq(0.25, 0.5, 0.95))
        .select(col("l_linestatus"),
          round(col("p25"), 4).as("p25"),
          round(col("p50"), 4).as("p50"),
          round(col("p95"), 4).as("p95"))
        .orderBy("l_linestatus")
    }),

    // CUBE: all 4 grouping combinations in one pass (rollup covers the
    // hierarchy case in q11; cube is the full lattice)
    "q15_cube" -> ((s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), round(avg(col("o_totalprice")), 2).as("avg_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // exact distinct counts (the expensive-but-oracled baseline; the
    // 100 TB companion is approx_count_distinct's HLL sketch — mergeable,
    // constant memory — whose ≤5%-error contract is a spec test, not an
    // oracle row, because no two engines share sketch bits)
    "q16_distinct_counts" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    }),

    // PIVOT: status categories to columns. The value list is explicit —
    // an unlisted-values pivot runs a driver-side distinct job first and
    // can't plan until it returns; at 100 TB the category set must be
    // declared (it's schema, not data)
    "q17_pivot" -> ((s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(col("o_totalprice")), 2))
        .withColumnsRenamed(Map("F" -> "total_f", "O" -> "total_o", "P" -> "total_p"))
        .orderBy("o_orderpriority")
    }),

    "q11_rollup" -> ((s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    "q12_semi_anti" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      val withUrgent = c.join(urgent, Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), lit("HAS_URGENT").as("status"))
      val noOrders = c.join(o.select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), lit("NO_ORDERS").as("status"))
      withUrgent.unionByName(noOrders).orderBy("c_custkey", "status")
    }),

    // FULL OUTER join with genuinely unmatched rows on BOTH sides: rich
    // customers vs high-value order tallies per nation key — null-padded
    // rows surface in both directions
    "q25_full_outer" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_acctbal") > 9800)
        .groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_rich"))
      val o = s.read.parquet(s"$dir/orders.parquet")
        .join(s.read.parquet(s"$dir/customer.parquet"),
          col("o_custkey") === col("c_custkey"))
        .filter(col("o_totalprice") > 495000)
        .groupBy(col("c_nationkey").as("nk2"))
        .agg(count(lit(1)).as("n_big_orders"))
      c.join(o, col("nk") === col("nk2"), "full_outer")
        .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
          col("n_rich"), col("n_big_orders"))
        .orderBy("nationkey")
    }),

    // the SQL text surface end to end: temp views + a correlated EXISTS
    // subquery through spark.sql — Catalyst plans it as the same left-semi
    // join the DataFrame form produces
    "q26_sql_exists" -> ((s, dir) => {
      s.read.parquet(s"$dir/customer.parquet").createOrReplaceTempView("c_v")
      s.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("o_v")
      s.sql("""
        SELECT c_custkey, c_acctbal
        FROM c_v
        WHERE c_acctbal > 9500
          AND EXISTS (SELECT 1 FROM o_v
                      WHERE o_custkey = c_custkey
                        AND o_orderstatus = 'O')
        ORDER BY c_custkey""")
    }),

    // GROUPING SETS data card: the corpus composition report (per
    // source×lang, per source, per lang, grand total) in ONE pass — one
    // expand + one partial-combined hash aggregate, vs four separate
    // scans; grouping() indicators disambiguate the null rows
    "corpus_datacard" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .groupingSets(
          Seq(Seq(col("source"), col("lang")), Seq(col("source")),
            Seq(col("lang")), Seq()),
          col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          grouping(col("source")).cast("int").as("g_source"),
          grouping(col("lang")).cast("int").as("g_lang"))
        .orderBy(col("g_source"), col("g_lang"),
          col("source").asc_nulls_first, col("lang").asc_nulls_first)
    }),

    // RANGE-frame window (trailing 1h by VALUE, not row count): peers
    // share frames by ts, so the quantized integer sum is deterministic
    // whatever the in-frame row order
    "q21_range_frame" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0)
      events(s, dir)
        .withColumn("qv", floor(col("value") * 1000).cast("long"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          sum(col("qv")).over(w).as("hour_sum_mils"))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // UNPIVOT/melt — the inverse of q17_pivot: metric columns to rows,
    // a narrow expand over the (tiny) aggregate output
    "q22_unpivot" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(sum(floor(col("l_quantity")).cast("long")).as("qty"),
          count(lit(1)).as("cnt"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("cnt")), "metric", "val")
        .orderBy("l_returnflag", "metric")
    }),

    // INTERSECT / EXCEPT set semantics (distinct both sides) — the two
    // branches share one orders scan; Spark plans both as aggregated
    // joins, no sort
    "q18_setops" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val u = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      f.intersect(u).withColumn("which", lit("both"))
        .unionByName(f.except(u).withColumn("which", lit("f_only")))
        .orderBy("which", "o_custkey")
    }),

    // sliding ROWS-frame window agg (7-event moving sum): values are
    // quantized to integer mils BEFORE the frame sum — a float moving sum
    // is summation-order-dependent across engines, an integer one is exact
    "q19_moving_agg" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val frame = w.rowsBetween(-6, 0)
      events(s, dir)
        .withColumn("qv", floor(col("value") * 1000).cast("long"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          sum(col("qv")).over(frame).as("mov_sum_mils"),
          count(lit(1)).over(frame).cast("long").as("mov_n"))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // conditional aggregation (FILTER / CASE inside agg) — one scan, one
    // hash aggregate; the returned-quantity sum goes through floor→long so
    // the cross-engine sum is integer-exact
    "q20_conditional_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_linestatus"))
        .agg(
          count(when(col("l_discount") > 0.05, 1)).as("n_highdisc"),
          count(when(col("l_tax") > 0.04, 1)).as("n_hightax"),
          sum(when(col("l_returnflag") === "R",
            floor(col("l_quantity")).cast("long")).otherwise(0L))
            .as("qty_returned"),
          max(when(col("l_discount") === 0, col("l_orderkey")))
            .as("max_nodisc_order"))
        .orderBy("l_linestatus")
    }),

    // fixed-window OHLC resampling: daily buckets per event type —
    // open/close tiebroken on event_id, integer floor-division bucket
    // boundaries, so the whole rollup replays in SQL
    "event_resample_ohlc" -> ((s, dir) =>
      graft.operators.Resample.ohlc(events(s, dir), "ts_us", "event_type",
          "value", "event_id", bucketWidth = 86400000000L)
        .select(col("event_type"), col("bucket"),
          round(col("open"), 4).as("open"), round(col("high"), 4).as("high"),
          round(col("low"), 4).as("low"), round(col("close"), 4).as("close"),
          col("n_events"), round(col("value_sum"), 2).as("value_sum"))
        .orderBy("event_type", "bucket")),

    // forward-fill gap filling: the value>90 slice resampled hourly is
    // sparse (~1.6k events over ~720 hourly buckets × 5 series), the
    // spine densifies every series to the global observed span, fills
    // carry the latest close with explicit 'fill' provenance, and
    // leading gaps stay null (never invent a value backwards in time)
    "event_resample_gapfill" -> ((s, dir) => {
      val sparse = graft.operators.Resample.ohlc(
        events(s, dir).filter(col("value") > 90), "ts_us", "event_type",
        "value", "event_id", bucketWidth = 3600000000L)
      graft.operators.Resample.gapFill(sparse, "event_type", "bucket",
          fillCols = Seq("close"))
        .select(col("event_type"), col("bucket"),
          round(col("close"), 4).as("close"), col("src"))
        .orderBy("event_type", "bucket")
    }),

    "event_sessions" -> ((s, dir) => {
      // batch sessionization: gap > 1h starts a new session (lag + running
      // sum of breaks — the batch counterpart of EventStreams.sessionize)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val gapUs = 3600L * 1000000L
      events(s, dir)
        .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
        .withColumn("brk",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_id",
          sum(col("brk")).over(w.rowsBetween(Long.MinValue, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("session_start_us"),
          max(col("ts_us")).as("session_end_us"))
        .orderBy("user_id", "session_id")
    }),

    // Spark's NATIVE session_window aggregation in batch mode — the
    // engine-level counterpart of the hand-rolled lag+cumsum recipe
    // (event_sessions) and the flatMapGroupsWithState sessionizer
    // (stream_sessions_oracled): one groupBy, merging handled by the
    // session-window exec. Boundary semantic differs from the lag recipe:
    // a window [ts, ts+gap) MERGES only an event strictly inside it, so
    // the break condition is gap >= (not >) — the oracle mirrors that
    "q23_session_window" -> ((s, dir) =>
      events(s, dir)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("session_start_us"),
          max(col("ts_us")).as("session_end_us"))
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"))
        .orderBy("user_id", "session_start_us")),

    // sliding (overlapping) window aggregation in batch: every event
    // lands in size/slide = 2 windows — the overlap expansion is an
    // in-row generate, then one hash aggregate; quantized integer sums
    "q24_sliding_window" -> ((s, dir) =>
      events(s, dir)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .groupBy(window(col("ts"), "2 minutes", "1 minute"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_mils"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("cnt"), col("sum_mils"))
        .orderBy("window_start_us", "event_type")),

    // interval×point range COUNT (sessions × ALL events) via the
    // prefix-sum bin ledger (RangeJoin.intervalPointCount): the pair
    // join's intermediate is Σ(events per session window) — both
    // factors densify with corpus size in a fixed wall-clock span, so
    // it grows ~quadratically while the output stays one row per
    // session. The ledger form resolves interior bins from broadcast
    // prefix sums and joins per-point only in the ≤2 edge bins. Every
    // session contains its own events, so no 0-count rows exist and
    // the result is identical to the pair-join + groupBy (the oracle is
    // binWidth-independent; a 10-minute bin keeps edge-bin volume low).
    "session_concurrency" -> ((s, dir) => {
      val sessions = queries("event_sessions")(s, dir)
        .select("user_id", "session_id", "session_start_us", "session_end_us")
      val points = events(s, dir).select(col("ts_us"))
      graft.operators.RangeJoin.intervalPointCount(sessions, points,
          "session_start_us", "session_end_us", "ts_us",
          binWidth = 600L * 1000000L, keys = Seq("user_id", "session_id"),
          countName = "n_concurrent")
        .select("user_id", "session_id", "n_concurrent")
        .orderBy("user_id", "session_id")
    }),

    // interval×point range join, PAIR output (RangeJoin.intervalPoint):
    // sessions of a user slice × ALL events falling inside them — pure
    // containment, NO equi key (which is the point: a bare range-theta
    // join plans as a nested-loop cross; the operator's time-bin
    // explode turns it into an equi join on the bin id with the range
    // predicate residual, and a qualifying pair meets in exactly one
    // bin, so no dedup pass). 10-minute bins ≈ session length.
    "range_join_pairs" -> ((s, dir) => {
      val sessions = queries("event_sessions")(s, dir)
        .filter(col("user_id") <= 30)
        .select("user_id", "session_id", "session_start_us", "session_end_us")
      val points = events(s, dir).select(col("event_id"), col("ts_us"))
      graft.operators.RangeJoin.intervalPoint(sessions, points,
          "session_start_us", "session_end_us", "ts_us",
          binWidth = 600L * 1000000L)
        .select(col("user_id"), col("session_id"), col("event_id"))
        .orderBy("user_id", "session_id", "event_id")
    }),

    // interval×interval overlap join (RangeJoin.intervalOverlap): which
    // session PAIRS across two user populations ran concurrently —
    // inclusive overlap, no equi key. Bin blocking again, but interval
    // pairs share every bin of their intersection, so each pair emits
    // only from its canonical meeting bin (the intersection's first) —
    // equivalence to the bare theta join, duplicate-free, no dedup pass
    "range_join_overlaps" -> ((s, dir) => {
      val sess = queries("event_sessions")(s, dir)
      val a = sess.filter(col("user_id") <= 20)
        .select(col("user_id").as("user_a"), col("session_id").as("session_a"),
          col("session_start_us").as("a_start"), col("session_end_us").as("a_end"))
      val b = sess.filter(col("user_id") > 20 && col("user_id") <= 60)
        .select(col("user_id").as("user_b"), col("session_id").as("session_b"),
          col("session_start_us").as("b_start"), col("session_end_us").as("b_end"))
      graft.operators.RangeJoin.intervalOverlap(a, b,
          "a_start", "a_end", "b_start", "b_end", binWidth = 600L * 1000000L)
        .select(col("user_a"), col("session_a"), col("user_b"), col("session_b"))
        .orderBy("user_a", "session_a", "user_b", "session_b")
    }),

    "q09_event_type_stats" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value")), 2).as("sum_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy("event_type")
    }),

    // -- SCD operator chain (J1/J3/J2/D4, SURVEY §2.3/§2.7) ---------------
    "scd_upsert_landing" -> ((s, dir) =>
      Merge.upsert(b1(s, dir), b2(s, dir), Seq("supplier_code"))
        .orderBy("supplier_key")),

    "scd_cdc_diff" -> ((s, dir) =>
      SnapshotCdc.diff(b1(s, dir),
          Merge.upsert(b1(s, dir), b2(s, dir), Seq("supplier_code")),
          Seq("supplier_code"))
        .orderBy("supplier_key", "_action")),

    // P5: predicate on a stream metadata column (the WHEN-clause guards of
    // the reference merge, `SCD-Configuration Setup.sql:146,150`)
    "scd_cdc_deletes" -> ((s, dir) =>
      SnapshotCdc.diff(b1(s, dir),
          Merge.upsert(b1(s, dir), b2(s, dir), Seq("supplier_code")),
          Seq("supplier_code"))
        .filter(col(graft.core.Schemas.cdcActionCol) === "DELETE" &&
          col(graft.core.Schemas.cdcIsUpdateCol))
        .select(col("supplier_key"), col("supplier_code"), col("supplier_state"))
        .orderBy("supplier_key")),

    "scd2_history" -> ((s, dir) =>
      scd2After2(s, dir)
        // TIMESTAMP_NTZ on the wire (the reference's type, and DuckDB's
        // naive TIMESTAMP — a tz-aware parquet timestamp would hash-mismatch)
        .withColumn("start_date", col("start_date").cast("timestamp_ntz"))
        .withColumn("end_date", col("end_date").cast("timestamp_ntz"))
        .orderBy("supplier_key", "start_date", "supplier_state")),

    "scd2_master" -> ((s, dir) =>
      Scd2.currentView(scd2After2(s, dir),
          Seq("supplier_key", "supplier_code", "supplier_name", "supplier_state"))
        .orderBy("supplier_key")),

    // SCD Type 3: one level of history as supplier_state_prev, same
    // broadcast-delta zero-target-shuffle shape as the Type 1 upsert.
    // batch2 over batch1: %3 keys move state0 → prev and take state1;
    // %5-only keys overwrite the name Type-1 style (prev untouched)
    "scd3_dim" -> ((s, dir) =>
      graft.ops.Scd3.merge(
          graft.ops.Scd3.init(b1(s, dir), Seq("supplier_state")),
          b2(s, dir), Seq("supplier_code"), Seq("supplier_state"))
        .orderBy("supplier_key")),

    // SCD Type 6 overlay: the Type 2 staging table with each key's
    // CURRENT tracked value on every historical row (1+2+3 hybrid);
    // faithful-mode keys whose history has no open row carry null
    "scd6_history" -> ((s, dir) =>
      graft.ops.Scd3.scd6(scd2After2(s, dir),
          Seq("supplier_code"), Seq("supplier_state"))
        .withColumn("start_date", col("start_date").cast("timestamp_ntz"))
        .withColumn("end_date", col("end_date").cast("timestamp_ntz"))
        .orderBy("supplier_key", "start_date", "supplier_state")),

    // SCD Type 4: Type-1 current + append-only history TABLE. Two cycles
    // (b2@t2, b3@t3); the output is the history table — each row a prior
    // version stamped with the cycle that superseded it (the current
    // table is exactly scd_upsert_landing's artifact). History writes are
    // delta-sized map-side appends: dimension inner-joins the broadcast
    // delta, zero target shuffle
    "scd4_history" -> ((s, dir) => {
      val (c2, h2) = graft.ops.Scd4(cycleBarrier(b1(s, dir)), b2(s, dir),
        Seq("supplier_code"), t2)
      val (_, h3) = graft.ops.Scd4(cycleBarrier(c2), b3(s, dir),
        Seq("supplier_code"), t3)
      h2.unionByName(h3)
        .withColumn("superseded_at", col("superseded_at").cast("timestamp_ntz"))
        .orderBy("supplier_key", "superseded_at")
    }),

    // point-in-time reconstruction from the Type 4 pair: as-of mid-Feb
    // (between the two cycles) must re-materialize EXACTLY the landing
    // state after batch2 — the scd_upsert_landing oracle, verbatim
    "scd4_asof" -> ((s, dir) => {
      val (c2, h2) = graft.ops.Scd4(cycleBarrier(b1(s, dir)), b2(s, dir),
        Seq("supplier_code"), t2)
      val (c3, h3) = graft.ops.Scd4(cycleBarrier(c2), b3(s, dir),
        Seq("supplier_code"), t3)
      graft.ops.Scd4.asOf(c3, h2.unionByName(h3), Seq("supplier_code"),
          Timestamp.valueOf("2024-02-15 00:00:00"))
        .orderBy("supplier_key")
    }),

    // late-arriving correction: the upstream re-sends January with a
    // mid-month state fix AFTER batch2 already landed. Each late record
    // splits its enclosing version at the effective timestamp — the
    // operator the cycle merge can't express (batchTime is by definition
    // ≥ every boundary). Late batch broadcasts; history never shuffles
    "scd2_late_splice" -> ((s, dir) => {
      val late = supplier(s, dir).filter(col("s_suppkey") % 7 === 0).select(
        concat(lit("S"), col("s_suppkey").cast("string")).as("supplier_code"),
        concat(lit("STL"), (col("s_suppkey") % 25).cast("string")).as("supplier_state"),
        lit(Timestamp.valueOf("2024-01-15 00:00:00")).as("effective_ts"))
      Scd2.spliceLate(scd2After2(s, dir), late, Seq("supplier_code"))
        .withColumn("start_date", col("start_date").cast("timestamp_ntz"))
        .withColumn("end_date", col("end_date").cast("timestamp_ntz"))
        .orderBy("supplier_key", "start_date", "supplier_state")
    }),

    "scd2_corrected" -> ((s, dir) =>
      scd2CorrectedAfter3(s, dir)
        .withColumn("start_date", col("start_date").cast("timestamp_ntz"))
        .withColumn("end_date", col("end_date").cast("timestamp_ntz"))
        .orderBy("supplier_key", "start_date", "supplier_state")),

    // point-in-time (as-of) join: lineitem facts with synthetic timestamps
    // straddling the two SCD2 batch dates pick the supplier version valid
    // at their time — the canonical SCD2 consumption query, oracled by
    // DuckDB running the identical range join on the closed-form history
    "scd2_asof" -> ((s, dir) => {
      val facts = s.read.parquet(s"$dir/lineitem.parquet")
        .select(
          concat(lit("S"), col("l_suppkey").cast("string")).as("supplier_code"),
          when(col("l_orderkey") % 2 === 0,
            lit(Timestamp.valueOf("2024-01-15 00:00:00")))
            .otherwise(lit(Timestamp.valueOf("2024-02-15 00:00:00")))
            .as("fact_ts"),
          col("l_quantity").as("qty"))
      // explicit broadcast: this history is checkpointed supplier-dim
      // sized (AQE can't see a localCheckpoint's size pre-join)
      Scd2.pointInTime(facts, scd2After2(s, dir), "fact_ts", Seq("supplier_code"),
          broadcastHistory = true)
        .groupBy(col("supplier_state"), col("current_flag"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("qty")), 2).as("sum_qty"))
        .orderBy("supplier_state", "current_flag")
    }),

    // -- SCD ops at fact-table scale (lineitem-derived dimension; output
    //    aggregated so the correctness dump stays small) ------------------
    "scd_upsert_large" -> ((s, dir) => {
      val (b1, b2) = largeDim(s, dir)
      Merge.upsert(b1, b2, Seq("dim_id"))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("qty")), 2).as("sum_qty"),
          round(sum(col("price")), 2).as("sum_price"))
        .orderBy("flag")
    }),

    // the flagship MERGE upsert over a stored layout: dimension and
    // delta both stored hash-bucketed on the merge key, so the
    // full-outer merge joins two co-partitioned sorted scans with zero
    // Exchange (PlanSpec-pinned) — scd_upsert_large above is the honest
    // derived-frame twin that pays the two-sided shuffle and inherited
    // its variance at scale. The layouts are a build-once fixture, paid
    // at staging time and not timed here (the pipeline keeps landing flat
    // on the carry tier and broadcasts its delta instead); same oracle as the large
    // twin: the layout is physical, the result identical.
    "scd_upsert_stored" -> ((s, dir) => {
      val (base, delta) = upsertStoredTables(s, dir)
      Merge.upsert(base, delta, Seq("dim_id"), broadcastSource = false)
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("qty")), 2).as("sum_qty"),
          round(sum(col("price")), 2).as("sum_price"))
        .orderBy("flag")
    }),

    "scd_cdc_large" -> ((s, dir) => {
      val (b1, b2) = largeDim(s, dir)
      SnapshotCdc.diff(b1, Merge.upsert(b1, b2, Seq("dim_id")), Seq("dim_id"))
        .groupBy(col(graft.core.Schemas.cdcActionCol).as("_action"),
          col(graft.core.Schemas.cdcIsUpdateCol).as("_is_update"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("qty")), 2).as("sum_qty"))
        .orderBy("_action", "_is_update")
    }),

    // CDC-maintained materialized aggregate: the stored GROUP BY is
    // refreshed by signed application of the delta (DELETE images
    // subtract, INSERT images add) — refresh cost ∝ delta + group domain,
    // never the corpus. The oracle computes the full post-delta aggregate
    // in closed form; matching it proves the incremental path lands on
    // exactly the recompute answer.
    "incremental_agg" -> ((s, dir) => {
      // PURE MV refresh: the stored aggregate plus the arrived CDC
      // delta (both built once — `index_mv_agg`), one signed partial
      // aggregation of the delta union'd with the group-domain-sized
      // MV. Nothing in the timed plan scans lineitem or re-derives the
      // snapshots; cost is O(delta + groups), the claim the PlanSpec
      // pins and this accounting finally lets the soaks measure.
      val root = mvAgg.path(s, dir)
      val maintained = graft.ops.IncrementalAgg.applyCdc(
        s.read.parquet(s"$root/_mv"),
        s.read.parquet(s"$root/_delta"),
        Seq("flag"), Seq("qty", "price"))
      maintained.select(col("flag"), col("cnt"),
          round(col("sum_qty"), 2).as("sum_qty"),
          round(col("sum_price"), 2).as("sum_price"))
        .orderBy("flag")
    }),

    // the same fact-scale CDC diff over a stored layout: both snapshots
    // STORED hash-bucketed on the key, so the diff join plans with no
    // Exchange on either side. The snapshots are a build-once fixture
    // (not timed here), so this measures the exchange-free diff against
    // scd_cdc_large's derived-frame shuffle diff. The pipeline itself
    // diffs no snapshots: its CDC comes from the landing merge
    // ([[graft.ops.Merge.upsertChanges]]). Same oracle: the layout is
    // physical, the result identical.
    "scd_cdc_stored" -> ((s, dir) => {
      // v1 = derivation version (largeDim + the upsert that derives
      // snap_curr) — bump on formula change; see upsertStoredTables
      val root = fixtureDir("cdc-stored-v1", "lineitem")(dir)
      val store = new graft.core.TableStore(root.toString, s)
      if (!store.exists("snap_prev")) {
        val (b1, b2) = largeDim(s, dir)
        val merged = Merge.upsert(b1, b2, Seq("dim_id"))
        store.commit(Map(
          "snap_prev" -> store.stageBucketed("snap_prev", b1, Seq("dim_id"), 32),
          "snap_curr" -> store.stageBucketed("snap_curr", merged, Seq("dim_id"), 32)))
      }
      SnapshotCdc.diff(store.readOrEmpty("snap_prev", largeDimSchema),
          store.readOrEmpty("snap_curr", largeDimSchema), Seq("dim_id"))
        .groupBy(col(graft.core.Schemas.cdcActionCol).as("_action"),
          col(graft.core.Schemas.cdcIsUpdateCol).as("_is_update"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("qty")), 2).as("sum_qty"))
        .orderBy("_action", "_is_update")
    }),

    // -- stats-pruned store scans (core.FileStats): the micro-partition
    //    metadata path — scan planning reads the per-file sidecar (min/max
    //    zone maps + bloom filters) instead of opening data-file footers,
    //    plans only surviving files, then re-applies the exact predicate,
    //    so pruning can never change results. The oracle is the plain
    //    filter over the raw table; FileStatsSpec pins the file skipping
    //    itself via DataFrame.inputFiles. ---------------------------------
    "store_prune_range" -> ((s, dir) => {
      // date-range slice of the o_orderdate-clustered store: ~7% of the
      // 1995..2001 span touches 1-2 of the 16 range-partitioned files
      val store = storeOf(statsStore, s, dir)
      val o = s.read.parquet(s"$dir/orders.parquet")
      store.readPrunedRange("orders", "o_orderdate",
          tsLit(o, "o_orderdate", "1998-01-01 00:00:00"),
          tsLit(o, "o_orderdate", "1998-06-30 00:00:00"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    "store_prune_point" -> ((s, dir) => {
      // point lookup on the hash-scattered o_custkey: every file's
      // [min, max] brackets the whole key domain, so only the per-file
      // bloom prunes — the high-cardinality complement to range skipping
      val store = storeOf(statsStore, s, dir)
      store.readPrunedPoint("orders", "o_custkey", lit(42L))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    "store_prune_compound" -> ((s, dir) => {
      // compound predicate: zone maps ∧ bloom intersect at the METADATA
      // level (a file survives only if every conjunct may match), so a
      // clustered-date range AND a point key typically plans 0-1 files
      val store = storeOf(statsStore, s, dir)
      val o = s.read.parquet(s"$dir/orders.parquet")
      val dataDir = store.currentPath("orders").get
      val lo = tsLit(o, "o_orderdate", "1995-01-01 00:00:00")
      val hi = tsLit(o, "o_orderdate", "1997-12-31 00:00:00")
      graft.core.FileStats.readPrunedWhere(s, dataDir,
          graft.core.FileStats.mayContainRange("o_orderdate", lo, hi) &&
            graft.core.FileStats.mayContainPoint("o_custkey", lit(42L),
              range = false, bloom = true),
          col("o_orderdate").between(lo, hi) && col("o_custkey") === 42L)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    "store_prune_zorder" -> ((s, dir) => {
      // two-dimensional box over the Z-clustered layout: BOTH range
      // predicates prune at the metadata level (the Morton interleave
      // keeps every file's min/max tight in date AND custkey at once),
      // where the date-sorted layout prunes the date conjunct only —
      // FileStatsSpec pins the files-touched win, the sf1 soak measures
      // it at volume. Same oracle discipline as store_prune_range: the
      // exact predicate re-applies after the pruned scan, so the layout
      // can never change the result.
      val store = storeOf(statsStore, s, dir)
      val o = s.read.parquet(s"$dir/orders.parquet")
      val dataDir = store.currentPath("orders_z").get
      val lo = tsLit(o, "o_orderdate", "1996-01-01 00:00:00")
      val hi = tsLit(o, "o_orderdate", "1996-12-31 00:00:00")
      graft.core.FileStats.readPrunedWhere(s, dataDir,
          graft.core.FileStats.mayContainRange("o_orderdate", lo, hi) &&
            graft.core.FileStats.mayContainRange("o_custkey",
              lit(10L), lit(120L)),
          col("o_orderdate").between(lo, hi) &&
            col("o_custkey").between(10L, 120L))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    "store_time_travel" -> ((s, dir) => {
      // AS-OF read: aggregate the FIRST committed version of a table
      // that was later overwritten — versions are immutable and
      // commit-ordered (nanotime-prefixed names), so the old snapshot
      // is a plain pruned read of its version dir, no log replay. The
      // oracle recomputes what that first version held (the even-key
      // half) from the raw table.
      val store = storeOf(statsStore, s, dir)
      val v0 = store.committedVersions("orders_history").head
      store.readVersion("orders_history", v0,
          s.read.parquet(s"$dir/orders.parquet").schema)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy("o_orderpriority")
    }),

    "store_restore" -> ((s, dir) => {
      // RESTORE-to-version rollback: orders_restore was overwritten with
      // the full table then restored to its first commit (the even-key
      // half) — the hard-link carry commit, zero data bytes rewritten.
      // The CURRENT read must therefore equal the even half (the
      // store_time_travel content, reached through the rollback path
      // instead of an as-of read), with the full-table mistake still in
      // history for audit.
      val store = storeOf(statsStore, s, dir)
      store.read("orders_restore")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy("o_orderpriority")
    }),

    // -- merge-on-read DML (core.DeleteVectors) + metadata-only
    //    aggregates (core.TableStore.statsAgg): the third deletion tier
    //    and the count/min/max shortcut. Oracles recompute the post-
    //    delete content (or the aggregate) from the raw table. --------
    "store_delete_mor" -> ((s, dir) => {
      // read THROUGH a deletion vector: orders_mor had its price tail
      // (~10% of rows) deleted as (file, pos) tombstones — every data
      // file carried verbatim, zero data bytes rewritten at delete
      // time — and the scan anti-joins the broadcast DV sidecar, so
      // the result equals the plain post-delete table
      val store = storeOf(morStore, s, dir)
      store.read("orders_mor")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    "store_purge" -> ((s, dir) => {
      // the same delete MATERIALIZED: purgeDeletes rewrote ONLY the
      // files the DV names (the price-clustered layout concentrates
      // the tail in the top range files) and committed a DV-free
      // version — identical content, plain scan, same oracle
      val store = storeOf(morStore, s, dir)
      store.read("orders_purge")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    "store_merge_mor" -> ((s, dir) => {
      // merge-on-read UPSERT: matched keys tombstoned via the DV,
      // updates + inserts appended as new files — zero carried bytes
      // rewritten; the read composes carried-minus-tombstoned with the
      // appended files through the same DV anti-join
      val store = storeOf(morStore, s, dir)
      store.read("orders_merge")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    "store_cdf" -> ((s, dir) => {
      // version-aware change data feed: exact row-level changes between
      // the initial commit and the post-upsert version of orders_merge,
      // read from metadata + O(changed files) — tombstones read back as
      // DELETEs, appended files as INSERTs, the unchanged corpus never
      // scanned and no diff join (vs SnapshotCdc's two full scans +
      // key shuffle)
      val store = storeOf(morStore, s, dir)
      val vs = store.committedVersions("orders_merge")
      store.changesBetween("orders_merge", vs.head, vs.last)
        .groupBy(col("_action"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy("_action", "o_orderstatus")
    }),

    "store_clone" -> ((s, dir) => {
      // zero-copy clone (Snowflake CREATE TABLE ... CLONE): the clone
      // of the DV'd table carries hard-linked data files + the
      // tombstone sidecar — a metadata-only commit whose read must
      // equal the source's read at clone time (same oracle as
      // store_delete_mor)
      val store = storeOf(morStore, s, dir)
      store.read("orders_mor_clone")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    "stream_upsert_mor_oracled" -> ((s, dir) => {
      // streaming MERGE into the store: three overlapping CDC slices
      // applied as tagged merge-on-read upserts across three stop/start
      // cycles — exactly-once effect via the version-tag high-water
      // mark; the oracle's CASE replays the batch last-wins merge, so
      // any dropped or doubled batch breaks the hash
      val store = storeOf(streamMor, s, dir, "/store")
      store.read("orders_live")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    "stream_upsert_maintained_oracled" -> ((s, dir) => {
      // LONG-RUN streaming MERGE: 48 micro-batches with OPTIMIZE
      // (purge + bin-pack) scheduled INSIDE the sink every 8th batch —
      // file count and DV size stay bounded by work-since-last-tick
      // while the content hash still witnesses exactly-once across all
      // 6 restarts and every maintenance tick (a tick that dropped the
      // tag would re-apply a batch and break the hash)
      val store = storeOf(streamMaint, s, dir, "/store")
      store.read("orders_maint")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    "store_stats_agg" -> ((s, dir) => {
      // metadata-only aggregate: row count, min/max and non-null count
      // per column answered from the FileStats sidecar ALONE — the
      // kilobyte-scale sidecar scan replaces the corpus scan (exact,
      // not approximate: sidecar min/max are true per-file column
      // aggregates, so their fold equals the global answer; the spec
      // pins that no data file is opened)
      val store = storeOf(morStore, s, dir)
      store.statsAgg("orders_stats", Seq("o_totalprice", "o_custkey"))
    }),

    // -- skew mitigation (operators under graft.operators.Salt): results
    //    must equal the unsalted plan bit-for-bit — the oracle runs the
    //    plain GROUP BY / join -------------------------------------------
    "salted_agg" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      graft.operators.Salt.saltedSumCount(li, Seq("l_returnflag"), "l_quantity",
          saltFactor = 16)
        .select(col("l_returnflag"),
          round(col("sum_l_quantity"), 2).as("sum_qty"), col("cnt"))
        .orderBy("l_returnflag")
    }),

    "salted_join" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      graft.operators.Salt.saltedJoin(o, c, Seq("o_custkey"), saltFactor = 8)
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment")
    }),

    // -- text analysis ----------------------------------------------------
    "text_stats" -> ((s, dir) => {
      // fused one-pass kernel (TextStatsExpr): the compositional columns
      // would re-run split/regexp per statistic; equivalence is pinned by
      // ExtensionsSpec and the DuckDB oracle
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
          graft.functions.TextKernels.textStats(col("text")).as("__st"))
        .select(col("doc_id"),
          col("__st.n_tokens").as("n_tokens"),
          round(col("__st.punct_ratio"), 4).as("punct_ratio"),
          round(col("__st.mean_token_len"), 4).as("mean_token_len"),
          round(col("__st.stopword_ratio"), 4).as("stopword_ratio"),
          col("__st.quality").as("quality"))
        .orderBy("doc_id")
    }),

    "text_bpe_tokens" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          T.tokenCount(col("text")).cast("long").as("ws_tokens"),
          T.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy("doc_id")
    }),

    "text_langid" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.functions.TextKernels.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    "token_histogram" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(30)
    }),

    // fused NFC normalization kernel vs DuckDB nfc_normalize + regex: the
    // query injects a decomposed accent (e + U+0301), a combining
    // diaeresis, tabs, doubled spaces, and control chars around every doc
    // so the hash match proves composition, control-strip, collapse, and
    // trim semantics cross-engine (the corpus itself is ASCII)
    "text_normalize" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.functions.TextKernels.normalizeText(
            concat(lit("Cafe\u0301\t  "), col("text"),
              lit("  \u0007nai\u0308ve\r\n"))).as("text"))
        .orderBy("doc_id")),

    // fused HTML boilerplate stripping (one codegen'd scan vs the 7-pass
    // regex chain): tags injected around the corpus text exercise tag
    // spans, the 5 entities (&amp; decoded last), an unclosed '<', and
    // decoded-char non-rescanning; the oracle replays the equivalent
    // regexp_replace + replace chain
    "text_strip_html" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.functions.TextKernels.stripHtml(
            concat(lit("<html>\t<body class=\"c\"><h1>T &amp; &quot;s&#39;</h1> <p>"),
              col("text"),
              lit("</p> <br/> &lt;b&gt;not-a-tag 5 &lt; 6 tail<unclosed")))
            .as("text"))
        .orderBy("doc_id")),

    // per-doc top-5 terms by smoothed tf-idf; rounded-score ranking keeps
    // the rank assignment engine-independent (graft.operators.Keywords)
    "text_tfidf" -> ((s, dir) =>
      graft.operators.Keywords.tfidfTopTerms(
          s.read.parquet(s"$dir/documents.parquet"), k = 5)
        .orderBy("doc_id", "rk")),

    // RAKE keyword extraction: stopword-delimited candidate phrases,
    // degree/frequency word scores as ONE truncating division on integer
    // counts (mil-scaled), phrase score = integer sum — the whole
    // extraction replays in SQL, including the gaps-and-islands phrase
    // assembly. Stopword inventory mixes function words with two
    // corpus-ubiquitous terms (row, value) — the domain-stopword form
    "text_keywords_rake" -> ((s, dir) =>
      graft.operators.Keywords.rakeKeywords(
          s.read.parquet(s"$dir/documents.parquet"),
          stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in",
            "is", "it", "for", "on", "with", "as", "row", "value"),
          k = 30)
        .orderBy("rk")),

    // unigram corpus-frequency scoring: the log-free LM-quality proxy
    // (rare-token docs score low) — integer token counts end to end, one
    // tokenize feeding both the vocabulary and the scoring join
    "text_rarity" -> ((s, dir) =>
      graft.operators.Keywords.corpusFrequencyScore(
          s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")),

    // bigram-backoff surprisal (KenLM-shaped quality filter) — model
    // counts from the even-id slice, every doc scored; integer-exact
    // bit-length arithmetic end to end, so no portable twin is needed
    "text_surprisal" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Keywords.surprisalScore(
          score = d, model = d.filter(col("doc_id") % 2 === 0))
        .orderBy("doc_id")
    }),

    // the same surprisal arithmetic against a STORED n-gram model — the
    // KenLM production shape (CCNet trains the LM once, then filters
    // every incoming crawl batch): vocab-sized uni/bi count tables +
    // one-row total read from parquet, model corpus text never
    // re-touched. Output must be IDENTICAL to the inline text_surprisal
    // (same model slice), so this row reuses that query's oracle
    // verbatim — the stored-model equivalence IS the check
    "text_surprisal_stored" -> ((s, dir) =>
      graft.operators.Keywords.surprisalFromModel(
          s, ngramModel.path(s, dir),
          score = s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")),

    // conjunctive search against the STORED term-bucketed inverted index:
    // build once per corpus (completion-marker-gated, like the stored ANN
    // indexes), probe reads only the query terms' bucket directories
    // (PartitionFilters — PlanSpec-pinned); a doc qualifies when it
    // carries ALL query terms, ranked by summed tf with an id tiebreak
    "search_indexed_oracled" -> ((s, dir) =>
      graft.operators.Keywords.searchInvertedIndex(
        s, invertedIndex.path(s, dir), Seq("spark", "join"), k = 20)),

    // exact-phrase search against the STORED positional index: shifted
    // position-list intersection per doc, partition-pruned term buckets,
    // occurrence-count ranking with id tiebreak
    "search_phrase_oracled" -> ((s, dir) =>
      graft.operators.Keywords.phraseSearch(
        s, posIndex.path(s, dir), Seq("table", "scan"), k = 20)),

    // positional-index O(batch) append, equivalence-oracled: postings
    // are per-document, so build-half + append-half must answer phrase
    // probes identically to the full build — same oracle verbatim
    "search_phrase_append" -> ((s, dir) =>
      graft.operators.Keywords.phraseSearch(
        s, posAppend.path(s, dir), Seq("table", "scan"), k = 20)),

    // BM25 retrieval from the STORED inverted index — the production
    // path: the index carries tf/dl on the posting rows and (N, total
    // tokens) in the _stats sidecar, so scoring touches ONLY the query
    // terms' bucket directories (PartitionFilters, PlanSpec-pinned) —
    // query cost independent of corpus size. Scores are identical to the
    // full-scan bm25TopDocs, so the same oracle SQL verifies this path.
    "text_bm25_indexed" -> ((s, dir) =>
      graft.operators.Keywords.bm25FromIndex(
        s, invertedIndex.path(s, dir), Seq("spark", "join", "window"), k = 20)),

    // O(batch) index MAINTENANCE, equivalence-oracled like the IVF
    // append: the index is built from the first half of the corpus,
    // the second half is APPENDED (only the batch is tokenized;
    // resident postings never read), and the probe must hash-match the
    // FULL-corpus BM25 oracle verbatim — every BM25 input is
    // batch-decomposable (per-doc tf/dl, bucket-additive df, additive
    // sidecar totals), so append ≡ rebuild exactly
    "text_bm25_index_append" -> ((s, dir) =>
      graft.operators.Keywords.bm25FromIndex(
        s, invertedAppend.path(s, dir), Seq("spark", "join", "window"),
        k = 20)),

    // full-scan BM25 twin (graft.operators.Keywords.bm25TopDocs): the
    // Lucene-style formula over exact integer tf/df/dl with a fixed-order
    // per-term sum, re-deriving corpus stats per query — kept as the
    // exact producer the indexed path is checked against; not the shape
    // you run at scale
    "text_bm25_oracled" -> ((s, dir) =>
      graft.operators.Keywords.bm25TopDocs(
        s.read.parquet(s"$dir/documents.parquet"),
        Seq("spark", "join", "window"), k = 20)),

    // Morton/Z-order code over two clustering keys — the write-side
    // kernel of multi-dimensional layout clustering (OPTIMIZE ZORDER).
    // Pure bit arithmetic over longs, so the oracle replays it exactly;
    // the skipping payoff (per-file min/max tight in BOTH dims) is
    // pinned by LayoutSpec on real two-layout parquet writes
    "layout_zorder" -> ((s, dir) => {
      import graft.operators.Layout
      s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"),
          Layout.zValue(Seq(col("l_partkey").bitwiseAND(lit(2047L)),
            col("l_suppkey").bitwiseAND(lit(2047L))), bits = 11).as("zval"))
        .orderBy(col("zval").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    }),

    // hybrid retrieval, PRODUCTION shape: RRF fusion of the two stored
    // indexes — BM25 from the inverted index (partition-pruned postings,
    // no corpus scan) and ANN from the portable-plane LSH index
    // (Hamming-pruned partitions). Both producers are deterministic and
    // engine-reproducible, so the whole fusion is hash-oracled: the
    // oracle SQL replays the BM25 formula and the closed-form LSH bucket
    // algebra, then fuses ranks. Rank-only fusion needs no score
    // calibration; the fused score is a fixed-order sum of two per-row
    // rationals. Query cost is O(candidates), independent of corpus size.
    "search_hybrid_rrf" -> ((s, dir) => {
      val bm = graft.operators.Keywords.bm25FromIndex(
        s, invertedIndex.path(s, dir), Seq("spark", "join", "window"), k = 50)
      val ann = Similarity.lshTopKIndexedPortable(
        s, lshPortableIndex.path(s, dir), queryVec(s, dir), k = 50,
        probeHamming = 2)
      graft.operators.Keywords.rrfFuse(
          Seq((bm, "doc_id", "bm25"), (ann, "vec_id", "cos")), k = 20)
        .withColumnRenamed("id", "doc_id")
    }),

    // exact-producer twin of search_hybrid_rrf: full-scan BM25 +
    // brute-force cosine, the recall ceiling the indexed fusion is
    // compared against
    "search_hybrid_exact_oracled" -> ((s, dir) => {
      val bm = graft.operators.Keywords.bm25TopDocs(
        s.read.parquet(s"$dir/documents.parquet"),
        Seq("spark", "join", "window"), k = 50)
      val ann = Similarity.bruteForceTopK(
        s.read.parquet(s"$dir/embeddings.parquet"), queryVec(s, dir), k = 50)
      graft.operators.Keywords.rrfFuse(
          Seq((bm, "doc_id", "bm25"), (ann, "vec_id", "cos")), k = 20)
        .withColumnRenamed("id", "doc_id")
    }),

    // exact corpus vocabulary (doc freq ≥ 3), top 100 by total count; the
    // sub-linear CMS path over the same token stream is pinned by
    // KeywordsSpec (sketches aren't SQL-expressible)
    "vocab_top_terms" -> ((s, dir) =>
      graft.operators.Keywords.vocabulary(
          s.read.parquet(s"$dir/documents.parquet"), minDocFreq = 3)
        .orderBy(col("total_count").desc, col("term"))
        .limit(100)),

    // PMI collocations: the top adjacent word pairs that co-occur far
    // beyond their unigram masses — one floor(ln(ratio)·1e6) on
    // left-associative double products of the exact counts, so the
    // ranking replays cross-engine up to the accepted ln-ulp class
    "vocab_pmi_bigrams" -> ((s, dir) =>
      graft.operators.Keywords.pmiCollocations(
          s.read.parquet(s"$dir/documents.parquet"), k = 30, minCount = 5)
        .orderBy("rk")),

    // -- PII scrubbing (graft.operators.Pii) -------------------------------
    // The corpus is synthetic (no real PII), so the queries inject
    // deterministic PII derived from doc_id — email always, ipv4 on
    // doc_id%2=0, phone on %3=0, ssn on %5=0 — and the DuckDB oracle
    // injects the identical strings, so a hash match verifies the REGEX
    // SEMANTICS cross-engine (Java regex here, RE2 there), not the data.
    "pii_stats" -> ((s, dir) =>
      graft.operators.Pii.stats(piiDocs(s, dir))
        .select("doc_id", "n_email", "n_ipv4", "n_phone", "n_ssn")
        .orderBy("doc_id")),

    "pii_redact" -> ((s, dir) =>
      graft.operators.Pii.redact(piiDocs(s, dir))
        .select("doc_id", "text")
        .orderBy("doc_id")),

    // k-anonymity audit: quasi-identifier classes (nation, segment,
    // $1000 balance band) smaller than k=3 — the re-identification
    // exposure report; one aggregate, class-cardinality output
    "pii_k_anonymity" -> ((s, dir) =>
      graft.operators.Pii.kAnonymityAudit(
          s.read.parquet(s"$dir/customer.parquet")
            .withColumn("bal_band",
              floor(col("c_acctbal") / 1000).cast("long")),
          Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 3)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")),

    // suppression release: rows in sub-k classes dropped, the kept
    // relation k-anonymous by construction — the violating-class
    // relation broadcasts into one anti-join
    "pii_k_suppress" -> ((s, dir) =>
      graft.operators.Pii.kAnonymizeSuppress(
          s.read.parquet(s"$dir/customer.parquet")
            .withColumn("bal_band",
              floor(col("c_acctbal") / 1000).cast("long")),
          Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 3)
        .select(col("c_custkey"))
        .orderBy("c_custkey")),

    // k-anonymity by GENERALIZATION: coarsen (nation, segment, $1000
    // balance band) up a 4-state ladder — $4000 bands, then segment →
    // '*', then nation → 5-nation bands, then constants — stopping at
    // the minimal state whose audit is clean, so every row is RETAINED
    // at coarser granularity instead of suppressed (the release policy
    // when suppression deletes too much). The oracle replays the level
    // search: per-level violation counts in CTEs, the settled level via
    // CASE, the release projection at that level. Negative balance
    // bands use the floor-division idiom in both engines.
    "pii_k_generalize" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"),
          col("c_nationkey").cast("long").as("nat"),
          col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 1000).cast("long").as("band"))
      val band4 = expr("(band - pmod(band, 4)) div 4")
      graft.operators.Pii.kAnonymizeGeneralize(c,
          Seq("nat", "seg", "band"),
          ladder = Seq(
            Seq(col("nat"), col("seg"), band4),
            Seq(col("nat"), lit("*"), band4),
            Seq(expr("nat div 5"), lit("*"), band4),
            Seq(lit(0L), lit("*"), lit(0L))),
          k = 3)
        .orderBy("c_custkey")
    }),

    // l-diversity audit (distinct-l): k-anonymity bounds class SIZE but
    // a class where everyone shares the sensitive value still leaks
    // (homogeneity attack) — report every (nation, segment, band) class
    // whose debt flag carries < 2 distinct values, with its size and
    // distinct count. One aggregate, class-cardinality output.
    "pii_l_diversity" -> ((s, dir) =>
      graft.operators.Pii.lDiversityAudit(
          s.read.parquet(s"$dir/customer.parquet")
            .withColumn("bal_band",
              floor(col("c_acctbal") / 1000).cast("long"))
            .withColumn("debt", col("c_acctbal") < 0),
          Seq("c_nationkey", "c_mktsegment", "bal_band"), "debt", l = 2)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")),

    // t-closeness audit (total-variation on the exact ppm lattice):
    // the (nation, $1000 band) classes whose market-segment mix sits
    // more than 0.25 TV from the corpus-wide distribution — the SKEW
    // leak l-diversity can't see (a class can carry all 5 segments and
    // still be 90% one of them against a 20% base rate). Every term is
    // a truncating integer division both engines decompose identically.
    "pii_t_closeness" -> ((s, dir) =>
      graft.operators.Pii.tClosenessAudit(
          s.read.parquet(s"$dir/customer.parquet")
            .withColumn("bal_band",
              floor(col("c_acctbal") / 1000).cast("long")),
          Seq("c_nationkey", "bal_band"), "c_mktsegment", tPpm = 250000L)
        .orderBy("c_nationkey", "bal_band")),

    // ORDERED t-closeness (Earth-Mover's distance, unit adjacent-band
    // ground distance): the (nation, segment) classes whose $1000
    // BALANCE-BAND distribution sits more than 0.1 EMD from the
    // corpus-wide one. TV would charge "everyone one band richer" the
    // same as "everyone scattered"; EMD charges by how far the mass
    // moved — the numeric-attribute disclosure. Cumulative signed ppm
    // gaps in band order, |·| summed, div (m−1) — all truncating
    // integer ops both engines decompose identically.
    "pii_t_closeness_ordered" -> ((s, dir) =>
      graft.operators.Pii.tClosenessAudit(
          s.read.parquet(s"$dir/customer.parquet")
            .withColumn("bal_band",
              floor(col("c_acctbal") / 1000).cast("long")),
          Seq("c_nationkey", "c_mktsegment"), "bal_band",
          tPpm = 100000L, ordered = true)
        .orderBy("c_nationkey", "c_mktsegment")),

    // the l-GATED generalization release: the same 4-state ladder as
    // pii_k_generalize, but a level is clean only when every class is
    // both >= k AND carries >= 2 distinct debt values — at sf0.01 the
    // k-only search settles at level 3 while the l gate pushes the
    // release to level 4 (the gate binds, not decorates). The sensitive
    // column rides along ungeneralized, which is the point of the model.
    "pii_l_generalize" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"),
          col("c_nationkey").cast("long").as("nat"),
          col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 1000).cast("long").as("band"),
          (col("c_acctbal") < 0).as("debt"))
      val band4 = expr("(band - pmod(band, 4)) div 4")
      graft.operators.Pii.kAnonymizeGeneralize(c,
          Seq("nat", "seg", "band"),
          ladder = Seq(
            Seq(col("nat"), col("seg"), band4),
            Seq(col("nat"), lit("*"), band4),
            Seq(expr("nat div 5"), lit("*"), band4),
            Seq(lit(0L), lit("*"), lit(0L))),
          k = 3, sensitive = Some(("debt", 2L)))
        .orderBy("c_custkey")
    }),

    // differentially-private count release: the geometric mechanism on
    // an exact integer lattice — noise level k has weight 2^(40-|k|)
    // (alpha = 1/2, epsilon = ln 2), the "randomness" is md5(group|salt)
    // folded onto the lattice total, so the oracle derives the identical
    // noise per group from closed-form shift arithmetic and certifies
    // the release IS corpus + declared mechanism
    "pii_dp_counts" -> ((s, dir) =>
      graft.operators.Pii.dpCounts(
          s.read.parquet(s"$dir/customer.parquet"),
          Seq("c_nationkey", "c_mktsegment"))
        .orderBy("c_nationkey", "c_mktsegment")),

    // the same mechanism releasing a HISTOGRAM: group = (event_type,
    // 50-wide value bucket) over events — the private form of
    // monitor_drift's baseline table; per-bucket noise is independent
    // (each bucket is its own hash draw), sensitivity still 1 because
    // a row lands in exactly one bucket
    "pii_dp_histogram" -> ((s, dir) =>
      graft.operators.Pii.dpCounts(
          events(s, dir).filter(col("value").isNotNull)
            .withColumn("bucket",
              floor(col("value") / 50).cast("long")),
          Seq("event_type", "bucket"))
        .orderBy("event_type", "bucket")),

    // the private-key-domain form: release gated on the NOISY count
    // reaching tau=4 (stability thresholding — buys (eps, delta)-DP
    // over unknown domains; post-processing, so the eps cost is
    // unchanged). Granular key (nation x acctbal-kiloband) so the
    // threshold genuinely bites (~50 of 272 groups drop at sf0.01)
    "pii_dp_counts_thresholded" -> ((s, dir) =>
      graft.operators.Pii.dpCounts(
          s.read.parquet(s"$dir/customer.parquet")
            .withColumn("bal_band",
              floor(col("c_acctbal") / 1000).cast("long")),
          Seq("c_nationkey", "bal_band"), threshold = Some(4L))
        .orderBy("c_nationkey", "bal_band")),

    // -- dataset curation (graft.operators.Curation) ----------------------
    // multi-rater label consolidation: three synthetic raters per doc
    // (weights 1/2/3, labels keyed off doc_id residues so disagreement
    // is dense — the piiDocs trick, both engines construct identical
    // votes), folded to the weighted-majority label with the exact
    // integer agreement score a quality gate thresholds on. Two
    // aggregates, no window over the corpus.
    "curation_labels_consolidated" -> ((s, dir) => {
      val votes = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          explode(array((0 to 2).map(j =>
            struct(
              concat(lit("c"), ((col("doc_id") * (2 * j + 1) + j) % 3)
                .cast("string")).as("lab"),
              lit((j + 1).toLong).as("w"))): _*)).as("v"))
        .select(col("doc_id"), col("v.lab").as("label"), col("v.w").as("w"))
      graft.operators.Curation.consolidateLabels(votes, "doc_id", "label",
          weightCol = Some("w"))
        .orderBy("doc_id")
    }),

    // temperature mixture sampling (count^alpha rebalancing over the
    // skewed lang column): one group-cardinality aggregate + broadcast
    // rate filter, corpus scanned once, never shuffled. md5-deterministic
    // draw → the oracle reproduces the exact row set.
    "mixture_sample" -> ((s, dir) =>
      graft.operators.Curation.mixtureSample(
          s.read.parquet(s"$dir/documents.parquet"),
          groupCol = "lang", idCol = "doc_id", targetRows = 200, alpha = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // hash-deterministic train/val/test split: a narrow map, stable under
    // re-runs/retries/appends (rand() would reshuffle rows between splits
    // on every one of those). Checked via per-split aggregates.
    "curation_split" -> ((s, dir) => {
      graft.operators.Curation.deterministicSplit(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split")
    }),

    // deterministic training-shard export order: shard = 32 md5 bits mod
    // 8, position = (hash, id) rank within the shard — the reproducible
    // global shuffle a restartable training job needs; the window's
    // shard exchange is the same one the sharded write reuses
    "curation_shard" -> ((s, dir) =>
      graft.operators.Curation.shard(
          s.read.parquet(s"$dir/documents.parquet"), nShards = 8,
          idCol = "doc_id")
        .select(col("doc_id"), col("shard"), col("position"))
        .orderBy("shard", "position")),

    // exact-n deterministic per-group sample (md5 hash order — the oracle
    // reproduces the identical choice, which no rand()-based sample can)
    "curation_sample" -> ((s, dir) =>
      graft.operators.Curation.samplePerGroup(
          s.read.parquet(s"$dir/documents.parquet"),
          Seq("source"), n = 3, idCol = "doc_id")
        .select(col("doc_id"), col("source"))
        .orderBy("source", "doc_id")),

    // token-budget subsample: uniform keep-rate budget/Σw so every
    // TOKEN is equally likely to survive (a row budget would
    // over-represent short docs per token); md5 draw, so the oracle
    // replays the rate arithmetic and the kept set exactly
    "curation_sample_weighted" -> ((s, dir) =>
      graft.operators.Curation.sampleWeighted(
          s.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("source"), col("n_chars")),
          "doc_id", "n_chars", budgetWeight = 30000L)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")),

    // stratified sample with an exact 100-row budget allocated across
    // languages proportionally (largest-remainder method, exact integer
    // quotas) — the eval-set builder: the sample mirrors the corpus's
    // language mix and lands on the budget exactly, deterministically
    "curation_sample_stratified" -> ((s, dir) =>
      graft.operators.Curation.sampleStratified(
          s.read.parquet(s"$dir/documents.parquet"),
          Seq("lang"), total = 100L, idCol = "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy("lang", "doc_id")),

    // per-domain percentile cut: keep each source's top 40% by length —
    // prune every group against its OWN score distribution, so a hub
    // source's easy mass can't crowd out the best docs of small sources
    // the way one global cutoff does. Exact integer rank semantics
    // (ceil keep-count, id tiebreak), deterministic on tied scores
    "curation_prune_percentile" -> ((s, dir) =>
      graft.operators.Curation.prunePercentile(
          s.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("source"), col("n_chars")),
          "source", "n_chars", "doc_id", keepPct = 40)
        .select(col("source"), col("doc_id"), col("n_chars"),
          col("rank_in_group"), col("group_size"))
        .orderBy("source", "doc_id")),

    // per-source token-budget selection: take docs in (score desc, id)
    // order while the running token total stays within 600 — the
    // deterministic greedy prefix cut (stated semantics: the first
    // overflow ends the take). ~half of each source's ~1350 tokens
    // survives, so the budget bites at both SFs
    "curation_select_budget" -> ((s, dir) =>
      graft.operators.Curation.selectBudget(
          s.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("source"), col("n_chars"),
              size(split(trim(col("text")), "\\s+")).cast("long")
                .as("n_tokens")),
          "source", "n_chars", "n_tokens", "doc_id", budget = 600L)
        .select(col("source"), col("doc_id"), col("n_chars"),
          col("n_tokens"), col("rank_in_group"), col("cum_tokens"))
        .orderBy("source", "doc_id")),

    // train→test n-gram contamination — the PRODUCTION hashed-shingle
    // form (8-byte shuffle keys). Its (doc_id, count) output is identical
    // to the string form up to 64-bit collisions, so the string-shingle
    // oracle SQL still hash-checks it; the bounded string-form query
    // below witnesses the exact-SQL path separately.
    "curation_contamination" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Curation.contamination(
          train = d.filter(col("doc_id") % 2 === 0),
          test = d.filter(col("doc_id") % 2 =!= 0),
          hashShingles = true)
        .orderBy("doc_id")
    }),

    // fuzzy decontamination, production form: near-duplicate train→test
    // leakage via xxhash64 MinHash banding + exact Jaccard verify (exact
    // n-gram overlap misses paraphrased/edited benchmark copies)
    "curation_decontam_fuzzy" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Curation.contaminationFuzzy(
          train = d.filter(col("doc_id") % 2 === 0),
          test = d.filter(col("doc_id") % 2 =!= 0),
          numHashes = 64, bands = 32, threshold = 0.5)
        .orderBy("doc_id")
    }),

    // engine-portable twin through the SAME function: md5 closed-form
    // banding on a bounded slice, so DuckDB replays banding → candidates
    // → Jaccard verify → best-match selection end to end
    "curation_decontam_fuzzy_oracled" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Curation.contaminationFuzzy(
          train = d.filter(col("doc_id") % 2 === 0),
          test = d.filter(col("doc_id") % 2 =!= 0),
          numHashes = 64, bands = 32, threshold = 0.5,
          portable = true, maxId = 300L)
        .orderBy("doc_id")
    }),

    // string-shingle contamination on a bounded slice: the literal
    // closed-form-SQL path (no hashing anywhere), kept small so the bench
    // measures the production form above, not this witness
    "curation_contamination_strings" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 200)
      graft.operators.Curation.contamination(
          train = d.filter(col("doc_id") % 2 === 0),
          test = d.filter(col("doc_id") % 2 =!= 0),
          hashShingles = false)
        .orderBy("doc_id")
    }),

    // Gopher-style repetition quality signals, computed entirely within
    // the row (sorted-run fold for the top bigram — zero shuffle); the
    // oracle recomputes via the relational explode→groupBy→max formulation
    "text_repetition" -> ((s, dir) => {
      // fused one-pass kernel (RepetitionStatsExpr): both statistics in
      // one codegen'd struct — the compositional HOF forms ran
      // interpreted and allocated a bigram string + struct accumulator
      // per token (single-run soak rows swung 31.9-177 s on identical
      // plans from the GC churn); values identical (equivalence spec +
      // the unchanged oracle)
      val rep = graft.functions.TextKernels.repetitionStats(col("text"))
      s.read.parquet(s"$dir/documents.parquet")
        // the small bench parquet is one input split; pre-shuffle so the
        // per-row folds use every core (a real corpus scan has thousands
        // of splits and needs no such step)
        .repartition(32)
        .select(col("doc_id"),
          round(rep.getField("dup_token_frac"), 4).as("dup_token_frac"),
          round(rep.getField("top_bigram_frac"), 4).as("top_bigram_frac"))
        .orderBy("doc_id")
    }),

    // context-window chunking: every doc → fixed-size token windows with
    // overlap (stride 12 = 16 - 4); pure narrow map + explode
    "curation_chunks" -> ((s, dir) =>
      graft.operators.Curation.chunkDocuments(
          s.read.parquet(s"$dir/documents.parquet"),
          maxTokens = 16, overlap = 4)
        .orderBy("doc_id", "chunk_idx")),

    // greedy sequence packing into 128-token bins within 100-id shards;
    // the oracle replays the same greedy fold as a recursive CTE
    "curation_packed" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Curation.packSequences(
          d, tokenCol = size(split(trim(col("text")), "\\s+")),
          budget = 128, shardSize = 100L)
        .orderBy("doc_id")
    }),

    // the whole curation pipeline composed end-to-end — exact dedup →
    // quality gate (fused textStats kernel) → n-gram decontamination
    // against a held-out eval slice (hashed-shingle production path) →
    // deterministic split — with every surviving doc's final split
    // assignment pinned row-for-row by one DuckDB CTE chain. This is the
    // "switch your pipeline to graft" demonstration: each stage is the
    // production operator, not a query-only re-derivation.
    "curation_pipeline_e2e" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val evalSet = docs.filter(col("doc_id") % 10 === 7) // held-out bench
      val pool = docs.filter(col("doc_id") % 10 =!= 7)
      val qual = Dedup.exact(pool)
        .withColumn("__q", graft.functions.TextKernels.textStats(col("text"))
          .getField("quality"))
        .filter(col("__q") >= 0.8)
        .drop("__q")
      val contaminated = graft.operators.Curation.contamination(evalSet, qual)
        .filter(col("n_shared_shingles") >= 10)
        .select(col("doc_id"))
      val clean = qual.join(contaminated, Seq("doc_id"), "left_anti")
      graft.operators.Curation.deterministicSplit(clean, "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    // DSIR importance-weighted selection (Xie et al. NeurIPS'23): the
    // 'en' slice is the target domain, every non-en doc is weighted by
    // its unigram+bigram log importance ratio (mil-scaled floor(ln)
    // longs — the NB model discipline, so scoring is exact integer
    // summation) and the top-100 selected deterministically. The oracle
    // replays the full model estimation and ranked take.
    "curation_dsir" -> ((s, dir) =>
      graft.operators.Curation.dsirSelect(
          s.read.parquet(s"$dir/documents.parquet"),
          targetPred = col("lang") === "en", n = 100)
        .orderBy("doc_id")),

    // DSIR in the paper's PRODUCTION form: features hashed into a fixed
    // 10k-bucket space, so the weight model is ≤10k rows at any corpus
    // size (the exact-vocabulary model above is corpus-n-gram-sized —
    // at web scale it stops fitting in a broadcast). md5 bucket mode so
    // the oracle replays the hash assignment in closed form; xxhash64
    // is the scale default (spec pins mode-equivalence of the pipeline
    // and exact-vs-hashed selection overlap).
    "curation_dsir_hashed" -> ((s, dir) =>
      graft.operators.Curation.dsirSelectHashed(
          s.read.parquet(s"$dir/documents.parquet"),
          targetPred = col("lang") === "en", n = 100,
          numBuckets = 10000, hashMode = "md5")
        .orderBy("doc_id")),

    "dedup_exact" -> ((s, dir) => {
      Dedup.exact(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), T.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // distribution-drift monitor — the pre-refresh check "does this
    // week's data still look like last week's?": TVD over a fixed
    // 10-bin histogram of value, split at the date-range midpoint.
    // TVD instead of PSI on purpose: no ln(), so the whole metric is
    // exact integer arithmetic + one closing division — hash-stable
    // cross-engine. One scan, slim (type, bin) shuffle, 1-row
    // broadcast boundary
    "monitor_drift" -> ((s, dir) =>
      graft.operators.Drift.tvdByGroup(
          events(s, dir)
            .withColumn("day", to_date(timestamp_micros(col("ts_us")))),
          "event_type", "day", "value", binWidth = 50.0, nBins = 10)
        .orderBy("event_type")),

    // hot-key diagnostic — the report run before deciding to salt a
    // join: top-10 heaviest user_ids with corpus share. Distributed
    // TakeOrdered over the count aggregate (never a global window over
    // the key space), grand total on a 1-row broadcast
    "monitor_skew" -> ((s, dir) =>
      graft.operators.Salt.hotKeys(
          events(s, dir).select(col("user_id")), "user_id", topN = 10)
        .orderBy("rank")),

    // robust row-level anomaly feed: |value − group median| > 5·MAD per
    // event_type (Hampel identifier — 50% breakdown center AND spread,
    // so an anomaly burst can't inflate its own fences the way
    // mean/stddev z-scores let it). Lower medians exactly — every
    // number is a copied data value or one IEEE subtract, so the flag
    // set replays bit-identically in any engine
    "monitor_anomaly" -> ((s, dir) =>
      graft.operators.Quality.madOutliers(
          events(s, dir).select(col("event_id"), col("event_type"),
            col("value")),
          "event_type", "value", k = 5)
        .select(col("event_type"), col("event_id"),
          round(col("value"), 4).as("value"),
          round(col("med"), 4).as("med"),
          round(col("mad"), 4).as("mad"))
        .orderBy("event_type", "event_id")),

    // the STORED drift baseline — O(increment) monitoring: the first
    // half's histogram persists as a (group, bin, cnt) table (kilobytes
    // at any corpus size), and the drift check aggregates ONLY the
    // current slice against the stored counts. Same output as
    // monitor_drift verbatim (same oracle SQL) — the storage round trip
    // must be pure, like the stored-tokenizer pattern
    "monitor_drift_stored" -> ((s, dir) => {
      val ev = events(s, dir).filter(col("value").isNotNull)
        .withColumn("day", to_date(timestamp_micros(col("ts_us"))))
      val bounds = ev.agg(min(col("day")).as("__mn"), max(col("day")).as("__mx"))
      val tagged = ev.crossJoin(broadcast(bounds))
        .withColumn("__base", col("day") <= date_add(col("__mn"),
          (datediff(col("__mx"), col("__mn")) / 2).cast("int")))
      val path = fixtureDir("drift", "events")(dir)
      if (!java.nio.file.Files.exists(path.resolve("_SUCCESS")))
        graft.operators.Drift.histogram(tagged.filter(col("__base")),
            "event_type", "value", binWidth = 50.0, nBins = 10)
          .coalesce(1).write.mode("overwrite").parquet(path.toString)
      graft.operators.Drift.tvdAgainstBaseline(
          tagged.filter(!col("__base")), s.read.parquet(path.toString),
          "event_type", "value", binWidth = 50.0, nBins = 10)
        .orderBy("event_type")
    }),

    // the drift monitor FED BY A STREAM: the current half streams
    // through an exactly-once histogram accumulator (per-micro-batch
    // counts land as overwrite-by-batchId directories — a restarted
    // batch rewrites, never double-counts — across 3 stop/start
    // cycles), and the TVD compare reads the stored baseline plus the
    // stream-maintained counts. Output must equal the single-pass
    // monitor_drift verbatim — the same oracle SQL hash-checks
    // exactly-once accumulation across restarts
    "stream_drift_oracled" -> ((s, dir) => {
      val ev = events(s, dir).filter(col("value").isNotNull)
        .withColumn("day", to_date(timestamp_micros(col("ts_us"))))
      val bounds = ev.agg(min(col("day")).as("__mn"), max(col("day")).as("__mx"))
      val tagged = ev.crossJoin(broadcast(bounds))
        .withColumn("__base", col("day") <= date_add(col("__mn"),
          (datediff(col("__mx"), col("__mn")) / 2).cast("int")))
      val work = fixtureDir("sdrift", "events")(dir)
      val basePath = work.resolve("baseline")
      if (!java.nio.file.Files.exists(basePath.resolve("_SUCCESS")))
        graft.operators.Drift.histogram(tagged.filter(col("__base")),
            "event_type", "value", binWidth = 50.0, nBins = 10)
          .coalesce(1).write.mode("overwrite").parquet(basePath.toString)
      val streamed = graft.streaming.Replay.histogramReplay(s,
        tagged.filter(!col("__base"))
          .select(col("event_id").as("id"), col("event_type"),
            graft.operators.Drift.binOf(col("value"), 50.0, 10).as("bin")),
        "event_type", work.resolve("replay").toString)
      graft.operators.Drift.tvdBetweenHistograms(
          s.read.parquet(basePath.toString), streamed, "event_type")
        .orderBy("event_type")
    }),

    // streaming Hampel monitor: fences frozen from the first-half
    // baseline (same day split as stream_drift), the second half
    // streamed through 3 stop/start cycles with per-batch (n,
    // violations) partials landed overwrite-by-batchId; the partial-sum
    // merge must equal the batch recount against the same fences, which
    // the oracle derives in closed form (lower medians + k*MAD)
    "stream_anomaly_oracled" -> ((s, dir) => {
      val ev = events(s, dir).filter(col("value").isNotNull)
        .withColumn("day", to_date(timestamp_micros(col("ts_us"))))
      val bounds = ev.agg(min(col("day")).as("__mn"), max(col("day")).as("__mx"))
      val tagged = ev.crossJoin(broadcast(bounds))
        .withColumn("__base", col("day") <= date_add(col("__mn"),
          (datediff(col("__mx"), col("__mn")) / 2).cast("int")))
      val work = fixtureDir("sanom", "events")(dir)
      val fences = graft.operators.Quality.madFences(
        tagged.filter(col("__base")), "event_type", "value")
      graft.streaming.Replay.madMonitorReplay(s, fences,
          tagged.filter(!col("__base"))
            .select(col("event_id").as("id"), col("event_type"),
              col("value")),
          "event_type", "value", k = 5, work.resolve("replay").toString)
        .orderBy("event_type")
    }),

    // daily OHLC maintained from a LIVE STREAM with exactly-once
    // accumulation: per-micro-batch PARTIAL rollups (open/close as the
    // min/max of the (ts, id, value) struct — endpoints carried WITH
    // their values, which is what makes them exactly mergeable) land
    // overwrite-by-batchId across 3 stop/start cycles; the final merge
    // must equal the from-scratch batch Resample.ohlc — the
    // event_resample_ohlc oracle hash-checks it verbatim, so one hash
    // witnesses exactly-once AND partial-merge ≡ recompute
    "stream_ohlc_oracled" -> ((s, dir) => {
      val work = fixtureDir("sohlc", "events")(dir)
      graft.streaming.Replay.ohlcReplay(s,
          events(s, dir).select(col("event_id").as("id"),
            col("event_type").as("grp"), col("ts_us").as("ts"),
            col("value").as("v")),
          work.toString, bucketWidth = 86400000000L)
        .select(col("grp").as("event_type"), col("bucket"),
          round(col("open"), 4).as("open"), round(col("high"), 4).as("high"),
          round(col("low"), 4).as("low"), round(col("close"), 4).as("close"),
          col("n_events"), round(col("value_sum"), 2).as("value_sum"))
        .orderBy("event_type", "bucket")
    }),

    // heavy hitters from a LIVE STREAM with exactly-once accumulation:
    // per-micro-batch sketches land overwrite-by-batchId across 3
    // stop/start cycles, the final sketch is the byte-union. Three
    // oracle-predicted-TRUE contracts: the theorem pair (no-false-
    // negative, lb ≤ exact ≤ ub — lb > exact is precisely what a
    // double-counted batch produces, so the bracket is the exactly-once
    // detector for estimates) and n_exactly_once (the sketch's exact
    // stream length ≡ the true row count — inflated by ANY re-count)
    "stream_topk_oracled" -> ((s, dir) => {
      val ev = events(s, dir)
      val items = ev.select(col("event_id").as("id"),
        concat(lit("u"), col("user_id")).as("item"))
      val work = fixtureDir("stopk", "events")(dir)
      val sk = graft.streaming.Replay.topkSketchReplay(
        s, items, work.toString)
      import graft.functions.FrequencySketch._
      val top = items.groupBy("item").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("item")).limit(10)
      val total = items.groupBy().agg(count(lit(1)).as("__n"))
      top.crossJoin(broadcast(sk)).crossJoin(broadcast(total))
        .select(col("item"), col("exact_cnt"),
          (array_contains(freqRetained(col("sk")), col("item")) ||
            col("exact_cnt") <= freqMaxError(col("sk"))).as("nfn"),
          (freqLowerBound(col("sk"), col("item")) <= col("exact_cnt") &&
            col("exact_cnt") <= freqUpperBound(col("sk"), col("item")))
            .as("bracket"),
          (freqStreamLength(col("sk")) === col("__n")).as("n_exactly_once"))
        .orderBy(col("exact_cnt").desc, col("item"))
    }),

    // dedup with a SURVIVOR POLICY — keep the LONGEST raw form per
    // normalized-fingerprint group (ties → smallest id), the policy a
    // crawl pipeline wants (best capture survives, not first-crawled).
    // The corpus is documents + deterministic crawl-noise variants that
    // normalize to the same fingerprint: whitespace-padded clones
    // (longer raw text — should WIN over their original) and uppercased
    // clones (same length — should lose the tie-break). One hash
    // aggregate, same 100 TB cost as min-id dedup
    "dedup_keep_best" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val padded = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("  "), col("text"), lit("  ")).as("text"))
      val upper = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          org.apache.spark.sql.functions.upper(col("text")).as("text"))
      Dedup.exactKeepBest(docs.unionByName(padded).unionByName(upper),
          length(col("text")))
        .select(col("doc_id"), T.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // per-label embedding centroids (mean pooling — the k-means M-step /
    // class-prototype shape) in LONG format (label, pos, sum, n) so every
    // value is scalar-hash-checkable. Plan: one posexplode to slim rows,
    // one partial-combined hash aggregate on (label, pos) — the corpus is
    // scanned once and only 8-byte values shuffle. Components are
    // floor(x·1000)-quantized (the portable-planes trick) and the OUTPUT
    // is the exact integer sum + count (mean = sum/(1000·n)): a raw
    // double avg is float-summation-ORDER-dependent, and even the rounded
    // quotient of exact integers splits across engines when the double
    // sits on a 4 dp rounding boundary (both observed at sf0.001/sf0.01
    // — integers are the only safe cross-engine reduction output).
    "embedding_centroids" -> ((s, dir) =>
      s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(sum(floor(col("col").cast("double") * 1000).cast("long"))
            .as("sum_qv"),
          count(lit(1)).as("n"))
        .orderBy("label", "pos")),

    // int8 symmetric quantization of the embedding column: integer dot
    // products (exact, hash-checkable) + quantized vs exact cosine on
    // consecutive-id pairs. The 4×-smaller ANN-index scale path.
    // MERGEABLE distinct-count sketches — the 100 TB pattern for "unique
    // users per X over any date slice": per-(type, day) HLL sketches are
    // built once (one pass over events), and any rollup is a union of
    // sketch BINARIES — never a rescan of data. Sketch estimates are
    // engine-specific (no two engines share HLL bits), so the row
    // carries what IS cross-checkable: the exact distinct count, the
    // daily-slice count the merge spanned, and the OUTCOMES of the two
    // sketch contracts as booleans — merged-from-parts ≡ direct
    // whole-data estimate (union losslessness) and ≤5% relative error vs
    // exact. The oracle predicts TRUE for both, so rows+schema+hash
    // verify the sketch contract itself, not just the exact column;
    // ExtensionsSpec additionally pins the bound at 100k cardinality and
    // the parquet round trip of the sketch table.
    "sketch_distinct_merged" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("day", to_date(timestamp_micros(col("ts_us"))))
      val daily = ev.groupBy("event_type", "day")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val merged = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
      val direct = ev.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_direct"),
          count_distinct(col("user_id")).as("n_exact"))
      direct.join(merged, "event_type")
        .select(col("event_type"), col("n_days"), col("n_exact"),
          (col("est_merged") === col("est_direct")).as("merged_eq_direct"),
          (abs(col("est_merged") - col("n_exact")).cast("double")
            <= col("n_exact").cast("double") * lit(0.05)).as("within_5pct"))
        .orderBy("event_type")
    }),

    // count-distinct is NOT additive, so it sits outside applyCdc's
    // signed maintenance — the scale answer is a sketch-backed MV:
    // per-group HLL binaries initialized from the first half of the
    // corpus, the second half UNIONED in as an insert-only batch
    // (O(delta + groups), corpus never rescanned). The row carries the
    // exact distinct count plus the contract boolean the oracle
    // predicts TRUE: the MAINTAINED estimate stays within 5% of exact.
    // (Estimate-EQUALITY with a one-shot sketch is deliberately not
    // claimed: union and direct paths can cross the sparse→dense mode
    // boundary differently and land on different registers — the error
    // bound is the real contract, spec-pinned at 700 true distincts)
    "incremental_agg_distinct" -> ((s, dir) => {
      // sketch MV refresh: the half1 HLL seed is STORED
      // (`index_mv_distinct`) — the timed plan sketches only the
      // ARRIVING half2 inserts and unions kilobyte sketch state; the
      // exact count_distinct pass stays, it IS this row's accuracy
      // contract (±5%), not refresh cost
      val ev = events(s, dir)
        .withColumn("day", to_date(timestamp_micros(col("ts_us"))))
      val half2 = ev.filter(col("day") > lit("2024-01-15"))
      val mv = graft.ops.IncrementalAgg.applyInsertsDistinct(
        s.read.parquet(mvDistinct.path(s, dir)),
        half2.select("event_type", "user_id"), Seq("event_type"), "user_id")
      val inc = graft.ops.IncrementalAgg
        .estimateDistinct(mv, Seq("event_type"))
        .withColumnRenamed("approx_distinct", "est_inc")
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_exact"))
      exact.join(inc, "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("est_inc") - col("n_exact")).cast("double")
            <= col("n_exact").cast("double") * lit(0.05)).as("within_5pct"))
        .orderBy("event_type")
    }),

    // mergeable QUANTILE sketch tables (KLL) — the percentile twin of
    // sketch_distinct_merged: per-(type, day) sketches in ONE events
    // pass, the per-type rollup a union of sketch BYTES (never a
    // rescan; at 100 TB the daily sketch table answers "p99 for any
    // date range" from kilobytes). KLL compaction is randomized, so the
    // row exposes deterministic columns (n_days, sketch-carried exact n,
    // exact p50) plus rank-error contracts the oracle predicts TRUE:
    // each estimated quantile's EXACT rank (one conditional-agg pass
    // over events with the three estimates broadcast back) must sit
    // within 0.05 of its target — 3× the k=200 guarantee, so the
    // booleans are stable at any practical confidence
    // categorical drift: did the EVENT-TYPE MIX move between the two
    // halves of the window — the string-column half of the drift
    // family (language mix, source mix at corpus scale); same exact
    // integer TVD, the category is the bin. Users are segmented by id
    // residue so the query exercises real per-group domains
    "monitor_drift_categorical" -> ((s, dir) =>
      graft.operators.Drift.tvdCategoricalByGroup(
          events(s, dir)
            .withColumn("day", to_date(timestamp_micros(col("ts_us"))))
            .withColumn("segment",
              concat(lit("seg"), (col("user_id") % 4).cast("string"))),
          "segment", "day", "event_type")
        .orderBy("segment")),

    // embedding-distribution drift — the vector-space member of the
    // family: portable hyperplane bucket histograms ('drift:'
    // namespace, 256 bins of kilobytes at any corpus size) compared
    // with the same exact-integer TVD. A shifted embedding corpus
    // (new domain, model refresh) moves mass between half-space sign
    // patterns before any single coordinate alarms; the closed-form
    // bucket bits make the whole metric hash-checkable
    "monitor_drift_embedding" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Drift.tvdEmbeddingShift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1))
    }),

    // the O(increment) production shape of the same metric: the BASE
    // slice's bucket histogram is STORED (2^8 longs — kilobytes at any
    // corpus size) and today's check aggregates only the current
    // slice, comparing against the stored rows. The storage round trip
    // is pure (exact integer counts), so this row must hash-match the
    // inline monitor_drift_embedding oracle verbatim
    "monitor_drift_embedding_stored" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val path = fixtureDir("driftbase", "embeddings")(dir)
      if (!java.nio.file.Files.exists(path.resolve("_SUCCESS")))
        graft.operators.Drift.embeddingHistogram(
            e.filter(col("vec_id") % 2 === 0))
          .write.mode("overwrite").parquet(path.toString)
      graft.operators.Drift.tvdEmbeddingHistograms(
        s.read.parquet(path.toString),
        graft.operators.Drift.embeddingHistogram(
          e.filter(col("vec_id") % 2 === 1)))
    }),

    // the drilldown behind the alarm: WHICH embedding-space regions
    // (hyperplane sign patterns) moved, ranked by each bin's exact
    // additive share of the TVD — the diagnostic a monitor emits so an
    // operator can inspect the shifted region instead of rescanning.
    // Ranks a histogram (≤2^8 rows), so the window is on kilobytes
    "monitor_drift_embedding_buckets" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Drift.embeddingTopMovers(
          graft.operators.Drift.embeddingHistogram(
            e.filter(col("vec_id") % 2 === 0)),
          graft.operators.Drift.embeddingHistogram(
            e.filter(col("vec_id") % 2 === 1)),
          k = 10)
        .orderBy("rank")
    }),

    // embedding drift FED BY A STREAM: the current slice streams
    // through the same exactly-once histogram accumulator as the
    // numeric monitor (per-micro-batch (bin, cnt) partials land
    // overwrite-by-batchId across 3 stop/start cycles — a replayed
    // batch rewrites, never double-counts), and the TVD compare reads
    // the stored baseline plus the stream-maintained counts. Must
    // equal the single-pass monitor_drift_embedding verbatim — the
    // same oracle SQL hash-checks exactly-once accumulation
    "stream_drift_embedding_oracled" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val work = fixtureDir("sedrift", "embeddings")(dir)
      val basePath = work.resolve("baseline")
      if (!java.nio.file.Files.exists(basePath.resolve("_SUCCESS")))
        graft.operators.Drift.embeddingHistogram(
            e.filter(col("vec_id") % 2 === 0))
          .coalesce(1).write.mode("overwrite").parquet(basePath.toString)
      val streamed = graft.streaming.Replay.histogramReplay(s,
        e.filter(col("vec_id") % 2 === 1 && col("embedding").isNotNull)
          .select(col("vec_id").as("id"), lit("all").as("__g"),
            graft.operators.Drift.embeddingBin(col("embedding")).as("bin")),
        "__g", work.resolve("replay").toString)
      graft.operators.Drift.tvdEmbeddingHistograms(
        s.read.parquet(basePath.toString),
        streamed.select(col("bin"), col("cnt")))
    }),

    // Tukey-fence outlier profile per event type: exact Q1/Q3, fences
    // at 1.5·IQR, outside-count — the distributional audit the static
    // range rules can't express; fences rounded BEFORE judging so the
    // predicate replays cross-engine
    "quality_outliers" -> ((s, dir) =>
      graft.operators.Quality.iqrOutliers(
          events(s, dir), "event_type", "value")
        .orderBy("event_type")),

    // mergeable HEAVY-HITTERS sketch tables (Misra–Gries family) — the
    // top-k twin of the HLL/KLL sketch tables: per-source token
    // sketches in one corpus pass, the corpus rollup a union of sketch
    // BYTES. Two regimes, both union-rolled and both contract-checked
    // with THEOREM-guaranteed booleans the oracle predicts TRUE:
    //   big map (1024) — holds every distinct token, stays exact;
    //   small map (8)  — capacity 6 < 31 distinct corpus tokens, so
    //     real decrements and saturated-union behavior are exercised.
    // no-false-negative is encoded as its actual theorem (retained OR
    // count ≤ maxError) so the row is regime-independent; bracketing
    // lb ≤ exact ≤ ub likewise holds in every regime
    "sketch_topk_merged" -> ((s, dir) => {
      import graft.functions.FrequencySketch._
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val perSource = toks.groupBy("source").agg(
        freqAgg(col("term"), 1024).as("sk_big"),
        freqAgg(col("term"), 8).as("sk_small"))
      val merged = perSource.agg(
        freqUnionAgg(col("sk_big"), 1024).as("sk_big"),
        freqUnionAgg(col("sk_small"), 8).as("sk_small"))
      val top = toks.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term")).limit(10)
      def contracts(sk: String, suffix: String) = Seq(
        (array_contains(freqRetained(col(sk)), col("term")) ||
          col("exact_cnt") <= freqMaxError(col(sk)))
          .as(s"nfn_$suffix"),
        (freqLowerBound(col(sk), col("term")) <= col("exact_cnt") &&
          col("exact_cnt") <= freqUpperBound(col(sk), col("term")))
          .as(s"bracket_$suffix"))
      top.crossJoin(broadcast(merged))
        .select(col("term") +: col("exact_cnt") +:
          (contracts("sk_big", "big") ++ contracts("sk_small", "small")): _*)
        .orderBy(col("exact_cnt").desc, col("term"))
    }),

    "sketch_quantiles_merged" -> ((s, dir) => {
      import graft.functions.QuantileSketch._
      val ev = events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("day", to_date(timestamp_micros(col("ts_us"))))
      val daily = ev.groupBy("event_type", "day")
        .agg(kllAgg(col("value")).as("sk"))
      val merged = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), kllUnionAgg(col("sk")).as("sk"))
        .select(col("event_type"), col("n_days"), kllN(col("sk")).as("n_rows"),
          kllQuantile(col("sk"), 0.25).as("e25"),
          kllQuantile(col("sk"), 0.5).as("e50"),
          kllQuantile(col("sk"), 0.75).as("e75"))
      val ranks = ev.join(broadcast(merged), "event_type")
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5D)"), 4).as("exact_p50"),
          (sum(when(col("value") <= col("e25"), 1L).otherwise(0L)) /
            count(lit(1))).as("r25"),
          (sum(when(col("value") <= col("e50"), 1L).otherwise(0L)) /
            count(lit(1))).as("r50"),
          (sum(when(col("value") <= col("e75"), 1L).otherwise(0L)) /
            count(lit(1))).as("r75"))
      merged.join(ranks, "event_type")
        .select(col("event_type"), col("n_days"), col("n_rows"),
          col("exact_p50"),
          (abs(col("r25") - 0.25) <= 0.05).as("ok_p25"),
          (abs(col("r50") - 0.5) <= 0.05).as("ok_p50"),
          (abs(col("r75") - 0.75) <= 0.05).as("ok_p75"))
        .orderBy("event_type")
    }),

    // the STORED tokenizer: merges learned once into a parquet artifact
    // (train-once-encode-many, the ANN stored-index pattern), then the
    // corpus encodes against the loaded model. Same oracle SQL as
    // text_bpe_encode, verbatim — storage must be a pure round trip
    "text_bpe_encode_stored" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val path = fixtureDir("bpe", "documents")(dir)
      if (!java.nio.file.Files.exists(path.resolve("_SUCCESS")))
        graft.operators.Vocab.writeMerges(
          graft.operators.Vocab.bpeMergesLocal(docs, nMerges = 4),
          path.toString)
      graft.operators.Vocab.bpeEncode(docs,
          graft.operators.Vocab.loadMerges(s, path.toString))
        .orderBy("doc_id", "pos")
    }),

    // last-touch attribution: every purchase credits the same user's
    // latest click strictly before it within 1 h — time-binned equi join
    // (never a BNLJ), per-conversion argmax, unattributed purchases kept
    "event_attribution" -> ((s, dir) => {
      val ev = events(s, dir)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("conv_id"),
          col("ts_us").as("conv_us"))
      val touch = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("touch_id"),
          col("ts_us").as("touch_us"))
      graft.operators.RangeJoin.lastTouch(conv, touch, Seq("user_id"),
          "conv_id", "conv_us", "touch_id", "touch_us",
          windowUs = 3600000000L, binWidth = 3600000000L)
        .select(col("conv_id"), col("user_id"), col("touch_id"), col("gap_us"))
        .orderBy("conv_id")
    }),

    // big-big point-in-time join: every purchase picks the same user's
    // latest click at or before it (unbounded lookback) via the
    // union-sort trick — the physical plan has NO join node and ONE key
    // exchange shared by both sides, the shape that survives when
    // neither side broadcasts. Equal-timestamp ties resolve to the max
    // click id (deterministic; the oracle replays them as
    // ORDER BY ts DESC, id DESC)
    "asof_join_events" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("click_us"),
          col("event_id").as("click_id"), col("value"))
      graft.operators.AsofJoin.asofBackward(purchases, clicks,
          Seq("user_id"), "ts_us", "click_us",
          valueCols = Seq("click_id", "value"),
          tieBreak = Seq("click_id"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("right_click_us").as("click_us"),
          col("right_click_id").as("click_id"),
          round(col("right_value"), 4).as("click_value"))
        .orderBy("event_id")
    }),

    // forward form — time-to-next-event: each click finds the same
    // user's EARLIEST purchase at or after it, within a 48 h horizon
    // (beyond → NULL). Same zero-join single-shuffle machinery,
    // mirrored frame; earliest-tie wins by purchase id
    "asof_join_forward" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("conv_us"),
          col("event_id").as("conv_id"))
      graft.operators.AsofJoin.asofForward(clicks, purchases,
          Seq("user_id"), "ts_us", "conv_us",
          valueCols = Seq("conv_id"),
          tolerance = Some(48L * 3600 * 1000000),
          tieBreak = Seq("conv_id"))
        .select(col("event_id"), col("user_id"),
          col("right_conv_id").as("conv_id"),
          (col("right_conv_us") - col("ts_us")).as("gap_us"))
        .orderBy("event_id")
    }),

    // tolerance form: matches staler than 24 h degrade to NULL instead
    // of silently serving old state — the freshness contract a feature
    // store's point-in-time join needs
    "asof_join_tolerance" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("click_us"),
          col("event_id").as("click_id"))
      graft.operators.AsofJoin.asofBackward(purchases, clicks,
          Seq("user_id"), "ts_us", "click_us",
          valueCols = Seq("click_id"),
          tolerance = Some(24L * 3600 * 1000000),
          tieBreak = Seq("click_id"))
        .select(col("event_id"), col("user_id"),
          col("right_click_id").as("click_id"))
        .orderBy("event_id")
    }),

    // leakage-safe temporal split: train ≤ boundary, embargo band kept
    // and LABELED (auditable exclusion), test strictly after the gap
    "curation_split_temporal" -> ((s, dir) =>
      graft.operators.Curation.temporalSplit(
          events(s, dir).select(col("event_id"),
            timestamp_micros(col("ts_us")).as("ts")),
          "ts", Timestamp.valueOf("2024-01-15 00:00:00"),
          java.time.Duration.ofDays(2))
        .select(col("event_id"), col("split"))
        .orderBy("event_id")),

    // contrastive training triplets: anchor + best LSH-blocked positive
    // + hash-successor negative, ids AND both rounded cosines oracled —
    // the self-supervised batch builder over the embedding corpus
    "contrastive_pairs" -> ((s, dir) =>
      Similarity.contrastivePairs(
          s.read.parquet(s"$dir/embeddings.parquet"))
        .orderBy("anchor_id")),

    // ANN-mined hard negatives: per anchor, the most similar blocked
    // candidate BELOW the dup threshold — confusable but not a
    // duplicate, the dense-retrieval curriculum random negatives lack.
    // Same portable blocking + rounded-cosine argmaxes as
    // contrastive_pairs, so ids and both cosines hash cross-engine
    "contrastive_hard" -> ((s, dir) =>
      Similarity.contrastiveHardTriplets(
          s.read.parquet(s"$dir/embeddings.parquet"),
          dupThreshold = 0.98)
        .orderBy("anchor_id")),

    // random-projection dim reduction (JL), integer-exact: every output
    // component is a closed-form integer dot both engines replay —
    // pins the projection kernel; the Gaussian float path is
    // embedding_project (spec-pinned top-k overlap vs full space)
    "embedding_project_oracled" -> ((s, dir) =>
      s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"),
          posexplode(V.projectInt(col("embedding"),
            V.portablePlanes(8, 64, ns = "proj:"))).as(Seq("pos", "dot")))
        .orderBy("vec_id", "pos")),

    // production Gaussian projection 64→16 + projected-space exact top-k
    // for the probe vector: the pre-ANN shrink step at work. Rows-only
    // (Gaussian floats aren't closed-form in SQL); ExtensionsSpec pins
    // top-20 overlap of projected-space vs full-space ranking
    "embedding_project" -> ((s, dir) => {
      val planes = V.randomPlanes(16, 64, seed = 7L)
      val proj = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), V.project(col("embedding"), planes).as("p"))
      val q = proj.filter(col("vec_id") === 0)
        .select(col("p").as("q")).limit(1)
      proj.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(
            aggregate(zip_with(col("p"), col("q"), (a, b) => a * b),
              lit(0.0), (acc, x) => acc + x) /
            (sqrt(aggregate(col("p"), lit(0.0), (acc, x) => acc + x * x)) *
             sqrt(aggregate(col("q"), lit(0.0), (acc, x) => acc + x * x))),
            4).as("cos_p"))
        .orderBy(col("cos_p").desc, col("vec_id"))
        .limit(20)
    }),

    "embedding_quantized" -> ((s, dir) => {
      // per-vector integer norm computed ONCE alongside the quantized
      // vector (the stored-index layout: at scale candidate pairs >>
      // vectors, so norms ride with the index instead of being re-folded
      // per pair). Par.ensure: the quantize+dot per-row math otherwise
      // runs on the single-split scan's one task (guide §2.5)
      val q = graft.operators.Par
        .ensure(s.read.parquet(s"$dir/embeddings.parquet"))
        .select(col("vec_id"), col("embedding"),
          V.quantScale(col("embedding")).as("__qs"))
        .withColumn("__q", V.quantize(col("embedding"), col("__qs")))
        .withColumn("__nq", V.dotInt(col("__q"), col("__q")))
      val a = q.select(col("vec_id"), col("embedding").as("va"),
        col("__q").as("qa"), col("__nq").as("na"))
      val b = q.select((col("vec_id") - 1).as("vec_id"),
        col("embedding").as("vb"), col("__q").as("qb"), col("__nq").as("nb"))
      a.join(b, "vec_id")
        .withColumn("dot_q", V.dotInt(col("qa"), col("qb")))
        .select(col("vec_id"), col("dot_q"),
          round(when(col("na") * col("nb") === 0L, lit(0.0))
            .otherwise(col("dot_q").cast("double") /
              sqrt(col("na").cast("double") * col("nb").cast("double"))),
            4).as("cos_q"),
          round(V.cosineFused(col("va"), col("vb")), 4).as("cos_exact"))
        .orderBy("vec_id")
    }),

    // incremental exact dedup: the day's batch (docs ≥ 250, with 1 in 5
    // rewritten to reuse an already-seen text) against the fingerprint
    // set of the existing corpus (docs < 250) — O(increment) daily dedup,
    // never a corpus rescan. The exchange-free bucketed-store plan is
    // pinned by PlanSpec.
    "dedup_incremental" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val base = docs.select(col("doc_id").as("src_id"),
        col("text").as("src_text"))
      val batch = docs.filter(col("doc_id") >= 250)
        .join(base, col("doc_id") - 250 === col("src_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, col("src_text"))
            .otherwise(col("text")).as("text"),
          col("source"))
      val seen = Dedup.exact(docs.filter(col("doc_id") < 250))
        .select(T.fingerprint(col("text")).as("fp"))
      Dedup.incrementalExact(batch, seen)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // the SAME increment through the bloom-pruned path: a distributed
    // BloomFilterAggregate sketch of the store pre-filters the batch, the
    // exact anti-join adjudicates only the might-contain slice — output
    // bit-identical to dedup_incremental (the bloom only routes rows), so
    // the identical oracle SQL hash-checks it
    "dedup_incremental_bloom" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val base = docs.select(col("doc_id").as("src_id"),
        col("text").as("src_text"))
      val batch = docs.filter(col("doc_id") >= 250)
        .join(base, col("doc_id") - 250 === col("src_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, col("src_text"))
            .otherwise(col("text")).as("text"),
          col("source"))
      val seen = Dedup.exact(docs.filter(col("doc_id") < 250))
        .select(T.fingerprint(col("text")).as("fp"))
      Dedup.incrementalExactBloom(batch, seen)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // incremental NEAR-dup admission control: the day's batch judged
    // against the corpus's STORED band table — no corpus text touched.
    // Every 5th batch doc is a doubled copy of a seen text (high-Jaccard
    // near-dup that exact fingerprinting misses); band agreement >= 6 of
    // 16 drops it. Batch bounded to ids 250-749 so the bench-scale corpus
    // keeps the banding stage fixed-size
    "dedup_incremental_minhash" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val base = docs.select(col("doc_id").as("src_id"),
        col("text").as("src_text"))
      val batch = docs.filter(col("doc_id") >= 250 && col("doc_id") < 750)
        .join(base, col("doc_id") - 250 === col("src_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("src_text"), lit(" "), col("src_text")))
            .otherwise(col("text")).as("text"),
          col("source"))
      // the ingested corpus's band table is STORED (`index_mv_minhash`):
      // the timed plan shingles only the ARRIVING batch and probes the
      // band relation — history is never re-shingled, the whole point
      // of incremental dedup at ingest time
      Dedup.incrementalMinhash(batch,
          s.read.parquet(mvMinhash.path(s, dir)), portable = true)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // incremental admission with EXACT verification: the arriving batch
    // is judged against the STORED prefix index + shingle sets (corpus
    // text never re-read; only the batch is shingled). Every 5th batch
    // doc is a doubled copy of an ingested doc — set-similar at ~|S|/
    // (|S|+2), well over t=1/2, so it must drop; the store-only
    // contract and the no-shared-order completeness argument live in
    // the operator's scaladoc. Exact verify = no signature misses: the
    // guarantee a benchmark-decontamination gate needs
    "dedup_incremental_jaccard" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val base = docs.select(col("doc_id").as("src_id"),
        col("text").as("src_text"))
      val batch = docs.filter(col("doc_id") >= 250 && col("doc_id") < 400)
        .join(base, col("doc_id") - 250 === col("src_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("src_text"), lit(" "), col("src_text")))
            .otherwise(col("text")).as("text"),
          col("source"))
      val root = mvJaccard.path(s, dir)
      Dedup.incrementalJaccardPrefix(batch,
          s.read.parquet(s"$root/prefix"), s.read.parquet(s"$root/sets"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // STREAMING incremental clustering replayed across stop/start
    // cycles: micro-batches of documents fold into the STORED (bands,
    // assignment) pair exactly-once — bands idempotent by key,
    // assignment tagged with the batch id — with later slices
    // RE-SENDING earlier docs byte-identically (the refold must be a
    // no-op by idempotence, not by luck). The final assignment must
    // equal the from-scratch closure over base ∪ slices, which the
    // oracle recomputes in closed form: the hash witnesses exactly-once
    // effect across 5 restarts AND the fold's equivalence to full
    // re-clustering. Built once per corpus (completion-marker-gated).
    "stream_clusters_oracled" -> ((s, dir) => {
      val work = fixtureDir("sclust", "documents")(dir)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val base = docs.filter(col("doc_id") < 250)
      val slices = (0 until 5).map { i =>
        val fresh = docs.filter(col("doc_id") >= 250 + i * 100 &&
          col("doc_id") < 250 + (i + 1) * 100)
        if (i == 0) fresh
        else fresh.unionByName(docs.filter(col("doc_id") >= 250 &&
          col("doc_id") < 250 + i * 100 && col("doc_id") % 7 === 0))
      }
      graft.streaming.StoreStream.clusterReplay(s, base, slices, work.toString)
        .read("assign")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),

    // Trained text classification — the fastText-style curation router
    // (language/quality routing, CCNet's filtering stage) as multinomial
    // Naive Bayes: trained on the labeled slice in ONE count aggregate,
    // scored with EXACT integer arithmetic (micro-scaled log-likelihood
    // longs), so every argmax decision replays bit-for-bit in SQL —
    // train counts, add-1 smoothing, floor(ln·10⁶) model weights,
    // integer sums, tie-breaks, all of it. Note the synthetic corpus's
    // lang labels are metadata over a SHARED vocabulary (unlearnable by
    // construction), so this row pins the cross-engine arithmetic;
    // KeywordsSpec carries the model-quality claim on a separable
    // corpus (perfect held-out classification, OOV drop, exact ties).
    "text_classify_nb" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.Keywords.naiveBayesTrain(
        docs.filter(col("doc_id") < 250)
          .select(col("doc_id"), col("text"), col("lang").as("label")))
      graft.operators.Keywords.naiveBayesScore(
          docs.filter(col("doc_id") >= 250 && col("doc_id") < 750), model)
        .orderBy("doc_id")
    }),

    // char-n-gram NB = REAL language ID (the r10 verdict's gap: word-
    // unigram NB can't learn this corpus's lang labels — every language
    // shares one vocabulary). Both engines derive a 5-orthography
    // multilingual corpus in closed form (per-language vowel
    // translation of the shared text: same content, different writing
    // system — exactly the langid setting), train char-3-gram NB on
    // doc_id < 400, and score the held-out tail. The hash pins
    // featurization, counts, smoothing, mil-weights, and the integer
    // argmax; ExtensionsSpec pins that the same feature space separates
    // languages ON UNSEEN WORDS, which word-unigram NB cannot.
    "text_classify_chargram" -> ((s, dir) => {
      val t = lower(trim(col("text")))
      val ortho = when(col("doc_id") % 5 === 0, translate(t, "aeo", "xyz"))
        .when(col("doc_id") % 5 === 1, translate(t, "aeo", "qwv"))
        .when(col("doc_id") % 5 === 2, translate(t, "aeo", "jkp"))
        .when(col("doc_id") % 5 === 3, translate(t, "aeo", "fgh"))
        .otherwise(t)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") < 500)
        .select(col("doc_id"),
          concat(lit("L"), col("doc_id") % 5).as("label"), ortho.as("text"))
      val model = graft.operators.Keywords.naiveBayesTrain(
        docs.filter(col("doc_id") < 400), charNgrams = Seq(3))
      graft.operators.Keywords.naiveBayesScore(
          docs.filter(col("doc_id") >= 400), model)
        .orderBy("doc_id")
    }),

    // SCHEMA EVOLUTION end-to-end: generation 1 (two columns) +
    // appendEvolved generation 2 (adds o_channel) + a MoR delete
    // spanning BOTH generations, read back under the declared union
    // schema — old rows null-fill the added column, tombstones apply
    // across the mixed file set, zero gen-1 bytes rewritten. The oracle
    // is the closed-form UNION of the two generations minus the
    // deleted keys.
    "store_evolution" -> ((s, dir) => {
      val work = fixtureDir("evo", "orders")(dir)
      graft.core.Fs.deleteRecursively(work)
      val store = new graft.core.TableStore(work.toString, s)
      val o = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderkey") <= 2000)
      store.overwrite("orders_evo", o.filter(col("o_orderkey") <= 1000)
        .select(col("o_orderkey"), col("o_totalprice")))
      store.appendEvolved("orders_evo", o.filter(col("o_orderkey") > 1000)
        .select(col("o_orderkey"), col("o_totalprice"),
          concat(lit("ch"), col("o_orderkey") % 3).as("o_channel")))
      store.deleteWhereMoR("orders_evo", col("o_orderkey") % 100 === 0)
      store.read("orders_evo").orderBy("o_orderkey")
    }),

    // INCREMENTAL transitive clustering: the day's batch folds into the
    // STORED cluster assignment (index_mv_cluster) via the STORED band
    // table (index_mv_minhash) — untouched clusters carry over past a
    // semi-join, the closure re-runs only on collided clusters + new
    // edges, nothing re-shingles history. The oracle recomputes the
    // FULL closure over store ∪ batch from scratch — incremental ≡ full
    // recompute is the whole point, and the hash check enforces it.
    // Same batch construction as dedup_incremental_minhash.
    "dedup_cluster_incremental" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val base = docs.select(col("doc_id").as("src_id"),
        col("text").as("src_text"))
      val batch = docs.filter(col("doc_id") >= 250 && col("doc_id") < 750)
        .join(base, col("doc_id") - 250 === col("src_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("src_text"), lit(" "), col("src_text")))
            .otherwise(col("text")).as("text"),
          col("source"))
      Dedup.incrementalClusters(batch,
          s.read.parquet(mvMinhash.path(s, dir)),
          s.read.parquet(mvCluster.path(s, dir)), portable = true)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),

    // CCNet-style boilerplate-line removal. The synthetic corpus has no
    // line structure, so the query builds it deterministically (8-token
    // lines) and injects a corpus-wide header plus an every-other-doc
    // footer — the oracle rebuilds the identical text, so the hash match
    // verifies the hot-line counting, anti-join, and order-preserving
    // reassembly cross-engine (hashed-line production path vs DuckDB
    // string keys).
    "dedup_lines" -> ((s, dir) => {
      val toks = split(lower(trim(col("text"))), "\\s+")
      val nl = greatest(ceil(size(toks) / lit(8.0)).cast("int"), lit(1))
      val body = array_join(transform(sequence(lit(0), nl - 1),
        i => array_join(slice(toks, i * lit(8) + 1, lit(8)), " ")), "\n")
      val lined = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("all rights reserved example header\n"), body,
            when(col("doc_id") % 2 === 0,
              lit("\nsubscribe to our newsletter footer"))
              .otherwise(lit(""))).as("text"))
      Dedup.dedupLines(lined, minDocs = 5)
        .orderBy("doc_id")
    }),

    // exact substring-span dedup (Lee et al. shape): every 8-token window
    // occurring ≥2× corpus-wide, merged per doc into maximal spans.
    // Production form — xxhash64 window keys, 8-byte shuffle rows.
    "dedup_substrings" -> ((s, dir) =>
      Dedup.duplicatedSpans(s.read.parquet(s"$dir/documents.parquet"), w = 8)
        .orderBy("doc_id", "span_start")),

    // engine-portable twin: md5 window keys through the SAME production
    // function, so the DuckDB oracle pins the full pipeline (window
    // generation → corpus count → join → gaps-and-islands merge)
    "dedup_substrings_oracled" -> ((s, dir) =>
      Dedup.duplicatedSpans(s.read.parquet(s"$dir/documents.parquet"), w = 8,
          hashMode = "md5")
        .orderBy("doc_id", "span_start")),

    // apply the span decision: rewrite docs with every corpus-duplicated
    // window removed (md5 keys so DuckDB replays the full cut; xxhash64
    // stays the operator's scale default, pinned equal by the spec)
    "dedup_substrings_cut" -> ((s, dir) =>
      Dedup.cutDuplicatedSpans(s.read.parquet(s"$dir/documents.parquet"),
          w = 8, hashMode = "md5")
        .orderBy("doc_id")),

    // dictEncode = false: ~11k pairs at this scope — measured 0.29 vs
    // 0.58 s with the encode's fixed costs (see ngramJaccardPairs doc)
    "ngram_jaccard_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(s.read.parquet(s"$dir/documents.parquet"),
          threshold = 0.1, maxId = 150L, dictEncode = false)
        .orderBy("id_a", "id_b")),

    // exact Jaccard over the WHOLE corpus — no maxId slice. The all-pairs
    // baseline above needs one; this row doesn't, because candidate
    // generation is prefix-filtered (rarity-ordered prefix tokens block
    // completely — no recall loss), so pair volume is driven by actual
    // similarity mass, not n². The oracle verifies against the all-pairs
    // definition; the operator never runs it.
    "dedup_jaccard_prefix" -> ((s, dir) =>
      Dedup.jaccardPrefixPairs(s.read.parquet(s"$dir/documents.parquet"),
          thresholdNum = 1, thresholdDen = 2)
        .orderBy("id_a", "id_b")),

    // the weighted-graph INTEGRATION row: PageRank over the similarity
    // graph the dedup tier itself produces — Jaccard-weighted near-dup
    // edges (exact n-gram pairs here; the hash-green rounded jaccard
    // makes floor(j·10⁴) engine-stable), symmetrized, rank splitting
    // weight-proportionally. High rank = "duplication centrality": the
    // canonical representative a keep-best policy should prefer.
    // Isolated docs keep base rank under the default leak policy, which
    // the oracle's 15 unrolled weighted rounds replay.
    "graph_pagerank_neardup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val d = docs.filter(col("doc_id") <= 150).select(col("doc_id"))
      // dictEncode = false: same ~11k-pair scope as ngram_jaccard_pairs
      val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.1, maxId = 150L,
        dictEncode = false)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"),
          floor(col("jaccard") * 10000).cast("long").as("w"))
        .unionByName(pairs.select(col("id_b").as("src"),
          col("id_a").as("dst"),
          floor(col("jaccard") * 10000).cast("long").as("w")))
      graft.operators.Graph.pageRank(edges, "src", "dst",
          nodes = d, nodeCol = "doc_id", iterations = 15,
          weightCol = Some("w"))
        .select(col("node").as("doc_id"), col("rank_scaled"))
        .orderBy("doc_id")
    }),

    // ACT on duplication centrality: within each transitive near-dup
    // cluster keep the member with the highest weighted-PageRank rank
    // over the similarity graph itself (ties → smallest id) — the
    // survivor is the revision the rest of the cluster is closest to,
    // not the longest one (DedupSpec pins a cluster where this policy
    // and the n_chars score policy disagree). Same exact-Jaccard pair
    // relation as graph_pagerank_neardup, opened to doc_id <= 300 at
    // threshold 0.02 where the corpus has a 39-cluster structure with
    // a 49-doc drift cluster. The oracle replays pairs → 15 weighted
    // rounds → recursive reachability → per-cluster argmax.
    "dedup_keep_central" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val d = docs.filter(col("doc_id") <= 300).select(col("doc_id"))
      val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.02, maxId = 300L)
        .localCheckpoint(true)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"),
          floor(col("jaccard") * 10000).cast("long").as("w"))
        .unionByName(pairs.select(col("id_b").as("src"),
          col("id_a").as("dst"),
          floor(col("jaccard") * 10000).cast("long").as("w")))
      val ranks = graft.operators.Graph.pageRank(edges, "src", "dst",
          nodes = d, nodeCol = "doc_id", iterations = 15,
          weightCol = Some("w"))
        .select(col("node").as("doc_id"), col("rank_scaled"))
      val clusters = Dedup.duplicateGroups(pairs.select("id_a", "id_b"))
        .select(col("id").as("doc_id"), col("group_id").as("cluster_id"))
      Dedup.keepCentral(clusters, ranks)
        .orderBy("cluster_id")
    }),

    // winnowing fingerprints (MOSS): per-window rightmost-min k-gram
    // hash selection — any ≥ w+k-1-char common substring is guaranteed
    // a shared SELECTED fingerprint while only ~2/(w+1) of hashes are
    // kept. md5 hash mode, so the oracle replays selection exactly
    // (window min + rightmost-tie join); the per-doc rollup pins the
    // fingerprint set via count/sum/first/last
    "text_winnow" -> ((s, dir) =>
      graft.operators.Winnow.fingerprints(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          k = 5, w = 4, hashMode = "md5")
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_fp"), sum("h").as("fp_sum"),
          min("pos").as("first_pos"), max("pos").as("last_pos"))
        .orderBy("doc_id")),

    // WHERE the near-dup pairs match — winnowing's MOSS capability
    // (MinHash detects overlap, winnowing locates it): per qualified
    // pair (>= 30 shared fingerprints), every matched fingerprint with
    // its selected character position in BOTH documents. Positions are
    // deterministic under the md5-48 hash, so the full evidence
    // relation (ids, hash, both positions, shared count) hash-checks
    // cross-engine
    "text_winnow_spans" -> ((s, dir) =>
      graft.operators.Winnow.matchSpans(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          k = 5, w = 4, minShared = 30, hashMode = "md5")
        .orderBy("id_a", "id_b", "h", "pos_a", "pos_b")),

    // the incremental winnow judge: batch docs (< 100) against the
    // STORED fingerprint relation of the seen corpus (>= 100) — corpus
    // text never re-read, hot boilerplate fingerprints (> 200 holders)
    // excluded from evidence on both sides, all md5-replayable
    "dedup_winnow_incremental" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val seenFps = graft.operators.Winnow.fingerprints(
          docs.filter(col("doc_id") >= 100), "doc_id", "text",
          k = 5, w = 4, hashMode = "md5")
        .select(col("id"), col("h")).distinct()
      graft.operators.Winnow.incrementalPairs(
          docs.filter(col("doc_id") < 100), "doc_id", "text", seenFps,
          k = 5, w = 4, minShared = 30, hashMode = "md5")
        .orderBy("doc_id", "seen_id")
    }),

    // winnow evidence composed with the iterative min-label CC: docs
    // chained by >= 30 shared fingerprints collapse to one group id —
    // the unit the leakage-safe splitter moves atomically. Oracle =
    // the winnow-pair replay feeding the recursive-CTE reachability
    "dedup_winnow_groups" -> ((s, dir) =>
      Dedup.duplicateGroups(
          graft.operators.Winnow.pairs(
            s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
            k = 5, w = 4, minShared = 30, hashMode = "md5")
            .select("id_a", "id_b"))
        .orderBy("id")),

    // winnow near-dup pairs under the canonical md5-48 hash (hash
    // choice is semantic for winnowing — it decides WHICH fingerprints
    // are selected — so the portable hash IS the production hash):
    // DuckDB recomputes selection, blocking guard, and shared counts
    "dedup_winnow" -> ((s, dir) =>
      graft.operators.Winnow.pairs(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          k = 5, w = 4, minShared = 30, hashMode = "md5")
        .orderBy("id_a", "id_b")),

    // fuzzy record linkage: SymSpell deletion-neighborhood blocking +
    // levenshtein verify. The xxhash64 block key needs no portable twin:
    // every true distance-1 pair shares a genuine deletion variant and
    // false block-mates die at the verify, so the output is exactly the
    // lev<=1 pair set — which DuckDB recomputes all-pairs at oracle scale
    "linkage_fuzzy_pairs" -> ((s, dir) =>
      graft.operators.Linkage.fuzzyPairs(
          s.read.parquet(s"$dir/customer.parquet"), "c_custkey", "c_name")
        .select(col("id_a"), col("id_b"),
          col("dist").cast("long").as("dist"))
        .orderBy("id_a", "id_b")),

    // entity resolution: connected components over the verified lev<=1
    // pair relation restricted to a HARD blocking key (same nation) —
    // records are one ENTITY iff connected at any path length (names
    // drift one edit per revision; pairwise matching splits the chain).
    // Without the hard key the sequential TPC-H names chain the whole
    // table into one component (a correct but vacuous answer); with it
    // the entity structure is rich (hundreds of multi-record entities
    // at oracle scale) so the hash check pins real transitivity. The
    // oracle recomputes the edges all-pairs and closes them with a
    // recursive CTE; the Spark side is the production star-contraction
    // operator over the SymSpell-blocked pair relation.
    "linkage_entities" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val nat = c.select(col("c_custkey"), col("c_nationkey"))
      val edges = graft.operators.Linkage.fuzzyPairs(c, "c_custkey", "c_name")
        .join(nat.select(col("c_custkey").as("id_a"), col("c_nationkey").as("__na")), "id_a")
        .join(nat.select(col("c_custkey").as("id_b"), col("c_nationkey").as("__nb")), "id_b")
        .filter(col("__na") === col("__nb"))
      graft.operators.Graph.connectedComponents(edges, "id_a", "id_b",
          nodes = Some(c.select(col("c_custkey"))), nodeCol = "c_custkey")
        .select(col("node").as("c_custkey"), col("component").as("entity_id"))
        .orderBy("c_custkey")
    }),

    // depth-2 neighborhood: complete for lev<=2 (FastSS), ~|s|^2/2
    // variants per record — the practical ceiling, exercised on the
    // same table so the oracle is the all-pairs lev<=2 recompute.
    // Bounded slice (the ngram_jaccard_pairs precedent): sequential
    // TPC-H names make the lev<=2 OUTPUT itself quadratic-ish (~135
    // partners per name), so an unbounded bench row measures result
    // materialization, not the blocking
    "linkage_fuzzy2_pairs" -> ((s, dir) =>
      graft.operators.Linkage.fuzzyPairs(
          s.read.parquet(s"$dir/customer.parquet")
            .filter(col("c_custkey") <= 2000),
          "c_custkey", "c_name", maxDist = 2)
        .select(col("id_a"), col("id_b"),
          col("dist").cast("long").as("dist"))
        .orderBy("id_a", "id_b")),

    // sorted-neighborhood blocking (Hernández–Stolfo multi-pass): the
    // LINEAR-cost heuristic blocker next to the complete-but-exploding
    // deletion neighborhood — two passes (name, reverse(name)), window
    // 8, lev<=1 verify. Output is DEFINED as verified pairs within the
    // window, so the oracle replays the rank construction (row_number
    // per pass, rank distance <= 7, verify) rather than the complete
    // lev<=1 set — the heuristic's recall is pinned, not hidden
    "linkage_sorted_pairs" -> ((s, dir) =>
      graft.operators.Linkage.sortedNeighborhoodPairs(
          s.read.parquet(s"$dir/customer.parquet"), "c_custkey", "c_name",
          window = 8)
        .select(col("id_a"), col("id_b"),
          col("dist").cast("long").as("dist"))
        .orderBy("id_a", "id_b")),

    // two-table form: a 100-record probe set linked against the full
    // customer table (self-matches at dist 0 included — left ⊂ right)
    "linkage_fuzzy_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.operators.Linkage.fuzzyJoin(
          c.filter(col("c_custkey") < 100), "c_custkey", "c_name",
          c, "c_custkey", "c_name")
        .select(col("id_l"), col("id_r"),
          col("dist").cast("long").as("dist"))
        .orderBy("id_l", "id_r")
    }),

    // ordered funnel over the event log: ONE shuffle — a per-user sorted
    // fold fills each step's slot with the earliest qualifying event
    // (strictly after the previous step, inside the 48 h conversion
    // window). The oracle replays the same greedy min-cascade as a CTE
    // chain, one `min(ts)` join per step — closed-form because the
    // cascade is deterministic given the previous step's timestamp.
    "funnel_steps" -> ((s, dir) =>
      graft.operators.Funnel.funnel(
          events(s, dir).withColumn("ts", timestamp_micros(col("ts_us"))),
          Seq("signup", "view", "click", "purchase"),
          withinSeconds = Some(48L * 3600))
        .orderBy("step")),

    // weekly cohort retention: users bucketed by first-event ISO week;
    // cell (cohort, offset) counts users active `offset` weeks later
    "cohort_retention" -> ((s, dir) =>
      graft.operators.Funnel.weeklyRetention(
          events(s, dir).withColumn("ts", timestamp_micros(col("ts_us"))))
        .orderBy("cohort_week", "week_offset")),

    // URL decomposition over synthetic per-doc URLs (webDocs): pure
    // regex/array built-ins, narrow map, '' on no-match in both engines
    "web_url_parts" -> ((s, dir) =>
      graft.operators.Web.parseUrls(webDocs(s, dir))
        .select(col("doc_id"), col("host"), col("registered_domain"),
          col("tld"), col("port"), col("path"),
          col("query").as("query_string"))
        .orderBy("doc_id")),

    // per-registered-domain corpus rollup: one hash agg, integer-exact
    "web_domain_stats" -> ((s, dir) =>
      graft.operators.Web.domainStats(webDocs(s, dir))
        .orderBy("registered_domain")),

    // BPE merge learning: one corpus pass to the (token, freq) vocab,
    // then merge rounds learned DRIVER-SIDE over the collected bounded
    // vocabulary (Vocab.bpeMergesLocal — incremental pair stats, the
    // production trainer; the specs pin it to a per-round-Spark-job
    // distributed twin), replayed round-for-round in DuckDB
    "vocab_bpe_merges" -> ((s, dir) =>
      graft.operators.Vocab.bpeMergesLocal(
          s.read.parquet(s"$dir/documents.parquet"), nMerges = 4)
        .orderBy("round")),

    // the tokenizer's INFERENCE half: learn 4 merges (bounded driver
    // collect — the model), then encode the corpus into its BPE piece
    // stream. Distinct tokens encode once (vocabulary-sized fold work);
    // the corpus-sized token stream only joins tok→syms and explodes.
    // DuckDB replays the learning rounds and applies the final vocab
    // with ordered unnests — the full train→encode loop cross-engine.
    "text_bpe_encode" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val merges = graft.operators.Vocab.bpeMergesLocal(docs, nMerges = 4)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Vocab.bpeEncode(docs, merges)
        .orderBy("doc_id", "pos")
    }),

    // tokenizer COVERAGE audit — the fertility check run before
    // committing to a vocabulary: pieces-per-whitespace-token per doc
    // (1.0 = every token in vocab; high = the tokenizer shreds this
    // corpus slice). Pure composition of the trained encoder with the
    // fused token counter; one aggregate over the encode stream
    "text_bpe_coverage" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val merges = graft.operators.Vocab.bpeMergesLocal(docs, nMerges = 4)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // count-without-encode: fertility needs only per-doc counts, so
      // the piece stream is never materialized (the oracle replays the
      // full encode-then-count and must agree)
      graft.operators.Vocab.bpeCoverage(docs, merges)
        .select(col("doc_id"), col("n_tokens"), col("n_pieces"),
          col("fertility"))
        .orderBy("doc_id")
    }),

    // canonical-URL normalization — the URL dedup key: the synthetic
    // corpus URLs get deterministic crawl-noise decorations (default
    // ports, an extra param, utm_ tracking, fragments, full-uppercase
    // variants — doc_id-residue-keyed, replayed identically in DuckDB),
    // then canonicalize: lowercased scheme/host, default ports stripped,
    // fragment dropped, utm_* filtered, params sorted. Pure regex/array
    // built-ins — the hash check pins every rule cross-engine.
    "web_url_canonical" -> ((s, dir) => {
      val d = col("doc_id")
      val step1 = when(d % 10 === 6, regexp_replace(col("url"), "/p/", ":443/p/"))
        .when(d % 10 === 3, regexp_replace(col("url"), "/p/", ":80/p/"))
        .otherwise(col("url"))
      val step2 = when(d % 6 === 0, concat(step1, lit("&a=1"))).otherwise(step1)
      val step3 = when(d % 3 === 0, concat(step2,
          when(d % 6 === 0, lit("&utm_source=feed"))
            .otherwise(lit("?utm_source=feed"))))
        .otherwise(step2)
      val step4 = when(d % 4 === 2,
          concat(step3, lit("#sec"), (d % 3).cast("string")))
        .otherwise(step3)
      val decorated = when(d % 11 === 0, upper(step4)).otherwise(step4)
      webDocs(s, dir)
        .select(d, decorated.as("url_raw"),
          graft.functions.UrlFunctions.canonicalUrl(decorated).as("url_canonical"))
        .orderBy("doc_id")
    }),

    // declarative data-quality audit (dbt-test style): all single-table
    // rules fuse into ONE conditional-aggregate scan per table; RI rules
    // are broadcast anti-join counts; uniqueness is a distinct count.
    // Output is rules-sized. Ranges are deliberately tight so violation
    // counts are non-zero and the hash check pins real arithmetic.
    "quality_expectations" -> ((s, dir) => {
      import graft.operators.Quality._
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val ords = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val supp = s.read.parquet(s"$dir/supplier.parquet")
      val prt = s.read.parquet(s"$dir/part.parquet")
      val nat = s.read.parquet(s"$dir/nation.parquet")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      audit(li, "lineitem", Seq(
          notNull("l_orderkey"), inRange("l_quantity", 1, 25),
          nonNegative("l_extendedprice"), inRange("l_discount", 0, 0.05),
          inSet("l_returnflag", Seq("A", "N", "R"))))
        .unionByName(audit(ords, "orders", Seq(
          notNull("o_custkey"), nonNegative("o_totalprice"),
          inSet("o_orderstatus", Seq("F", "O")))))
        .unionByName(audit(docs, "documents", Seq(
          notNull("text"), inRange("n_chars", 1, 300))))
        .unionByName(unique(ords, "orders", Seq("o_orderkey")))
        .unionByName(unique(cust, "customer", Seq("c_custkey")))
        .unionByName(unique(li, "lineitem", Seq("l_orderkey", "l_linenumber")))
        .unionByName(refIntegrity(li, "lineitem", "l_orderkey", ords, "o_orderkey"))
        .unionByName(refIntegrity(li, "lineitem", "l_partkey", prt, "p_partkey"))
        .unionByName(refIntegrity(li, "lineitem", "l_suppkey", supp, "s_suppkey"))
        .unionByName(refIntegrity(ords, "orders", "o_custkey", cust, "c_custkey"))
        .unionByName(refIntegrity(cust, "customer", "c_nationkey", nat, "n_nationkey"))
        .orderBy("tbl", "rule")
    }),

    // blocklist enforcement: the list broadcasts, the corpus anti-joins
    "web_domain_filter" -> ((s, dir) => {
      import s.implicits._
      val block = Seq("site0.com", "site3.co.uk", "site5.org").toDF("domain")
      graft.operators.Web.domainFilter(webDocs(s, dir), block)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // the exact-verify stage of minhash dedup (Jaccard over the hashed
    // shingle sets from the ShingleHashes kernel), oracled against DuckDB
    // computing Jaccard over the shingle STRINGS — identical up to 64-bit
    // hash collisions, so a hash match proves the kernel's window/hash/
    // distinct semantics. Band selection remains the only unoracled stage.
    "minhash_verify_pairs" -> ((s, dir) => {
      val sh = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 300)
        .select(col("doc_id").as("id"),
          graft.functions.MinHash.shingleHashesSorted(
            split(lower(trim(col("text"))), "\\s+"), 3).as("sh"))
      val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("jaccard",
          graft.functions.MinHash.jaccardSorted(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= 0.05)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // band selection under portable md5 banding, in isolation: DuckDB
    // recomputes the identical closed-form banding, so the candidate-pair
    // set itself is hash-checked — the stage the xxhash64 default leaves
    // rows-only. 32 bands × 2 rows (vs the 16×4 production default):
    // weaker bands admit weak pairs as candidates, making the oracled
    // pair set bigger and the banding check correspondingly sharper
    "minhash_band_candidates" -> ((s, dir) =>
      Dedup.minhashPortableCandidates(
          s.read.parquet(s"$dir/documents.parquet"), bands = 32, maxId = 300L)
        .orderBy("id_a", "id_b")),

    // the FULL minhash dedup pipeline (banding → candidates → Jaccard
    // verify → anti-join) in portable md5 mode, end-to-end hash-verified;
    // xxhash64 banding remains the performance default (`dedup_minhash`)
    "dedup_minhash_oracled" -> ((s, dir) =>
      Dedup.minhashPortable(
          s.read.parquet(s"$dir/documents.parquet"),
          bands = 32, threshold = 0.5, maxId = 300L)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // PageRank over a closed-form synthetic link graph (doc d links to
    // (d² + j·31) mod m for j = 1..3, m = max id + 1 — both engines
    // derive the identical multigraph from the corpus; the QUADRATIC
    // map is deliberately non-bijective so in-degrees vary 0..dozens
    // and the rank distribution is rich — an affine map is a regular
    // graph whose uniform ranks check nothing): authority scoring in
    // EXACT integer fixed-point, so the oracle replays every rank as
    // the same 64-bit long through 15 unrolled iterations. The
    // iterative-operator discipline beyond connected components:
    // fixed-round, integer-lattice, engine-portable.
    "graph_pagerank" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 300).select(col("doc_id"))
      val m = d.agg((max(col("doc_id")) + 1L).as("__m"))
      val edges = d.crossJoin(broadcast(m))
        .select(col("doc_id").as("src"),
          explode(array((1 to 3).map(j =>
            (col("doc_id") * col("doc_id") + j * 31L) % col("__m")): _*)).as("dst"))
      graft.operators.Graph.pageRank(edges, "src", "dst",
          nodes = d, nodeCol = "doc_id", iterations = 15)
        .select(col("node").as("doc_id"), col("rank_scaled"))
        .orderBy("doc_id")
    }),

    // directed SCC via trim + forward-backward coloring over the same
    // closed-form (x²+31j) mod n digraph as graph_pagerank — at sf0.01
    // one giant ~190-node SCC, a 2-cycle, and a trim-able periphery, so
    // all three phases (trim / color / backward mark) are exercised.
    // scc_id = max member id (the coloring-root convention), which the
    // oracle re-derives as max over the mutual-reachability closure
    "graph_scc" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 300).select(col("doc_id"))
      val m = d.agg((max(col("doc_id")) + 1L).as("__m"))
      val edges = d.crossJoin(broadcast(m))
        .select(col("doc_id").as("src"),
          explode(array((1 to 3).map(j =>
            (col("doc_id") * col("doc_id") + j * 31L) % col("__m")): _*)).as("dst"))
      graft.operators.Graph.stronglyConnectedComponents(edges, "src", "dst",
          nodes = Some(d), nodeCol = "doc_id")
        .select(col("node").as("doc_id"), col("scc_id"))
        .orderBy("doc_id")
    }),

    // PageRank on a graph WITH sinks (only doc_id < 200 has outlinks →
    // ~200 dangling nodes), dangling mass REDISTRIBUTED: each round the
    // dangling ranks' sum D hands every node (85·D) div (100·n) extra
    // quanta — the standard fix for the leak policy, still on the exact
    // integer lattice. The oracle unrolls all 15 rounds with the same
    // three-way div decomposition; GraphSpec pins mass conservation
    // tightening to truncation-only loss.
    "graph_pagerank_dangling" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 400).select(col("doc_id"))
      val m = d.agg((max(col("doc_id")) + 1L).as("__m"))
      val edges = d.filter(col("doc_id") < 200).crossJoin(broadcast(m))
        .select(col("doc_id").as("src"),
          explode(array((1 to 2).map(j =>
            (col("doc_id") * col("doc_id") + j * 31L) % col("__m")): _*)).as("dst"))
      graft.operators.Graph.pageRank(edges, "src", "dst",
          nodes = d, nodeCol = "doc_id", iterations = 15,
          redistributeDangling = true)
        .select(col("node").as("doc_id"), col("rank_scaled"))
        .orderBy("doc_id")
    }),

    // PERSONALIZED PageRank: the surfer restarts only into the 6-node
    // seed set (doc_id ≡ 7 mod 50), so ranks measure proximity to the
    // trusted seeds — same integer lattice and 15 unrolled SQL rounds
    // as graph_pagerank, with the base mass CASE-gated onto seeds and
    // a seed-concentrated start. The quadratic multigraph has no sinks
    // (every node keeps 3 outlinks), so the leak policy is vacuous here.
    "graph_pagerank_personalized" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 300).select(col("doc_id"))
      val m = d.agg((max(col("doc_id")) + 1L).as("__m"))
      val edges = d.crossJoin(broadcast(m))
        .select(col("doc_id").as("src"),
          explode(array((1 to 3).map(j =>
            (col("doc_id") * col("doc_id") + j * 31L) % col("__m")): _*)).as("dst"))
      graft.operators.Graph.pageRank(edges, "src", "dst",
          nodes = d, nodeCol = "doc_id", iterations = 15,
          restartNodes = Some(d.filter(col("doc_id") % 50 === 7)),
          restartCol = "doc_id")
        .select(col("node").as("doc_id"), col("rank_scaled"))
        .orderBy("doc_id")
    }),

    // WEIGHTED PageRank: the same 3-outlink quadratic multigraph, each
    // edge carrying integer weight 1 + (src + 13j) mod 5, so a source's
    // rank splits weight-proportionally — `(r·w) div Σw` per edge row,
    // one truncating division, same integer lattice. Real link graphs
    // (link counts) and the dedup tier's Jaccard-weighted near-dup
    // edges are weighted; the unweighted ranking mis-orders them. The
    // oracle unrolls the same 15 rounds with deg = sum(w).
    "graph_pagerank_weighted" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 300).select(col("doc_id"))
      val m = d.agg((max(col("doc_id")) + 1L).as("__m"))
      val edges = d.crossJoin(broadcast(m))
        .select(col("doc_id").as("src"),
          explode(array((1 to 3).map(j => struct(
            ((col("doc_id") * col("doc_id") + j * 31L) % col("__m")).as("dst"),
            (lit(1L) + (col("doc_id") + j * 13L) % 5L).as("w"))): _*)).as("e"))
        .select(col("src"), col("e.dst").as("dst"), col("e.w").as("w"))
      graft.operators.Graph.pageRank(edges, "src", "dst",
          nodes = d, nodeCol = "doc_id", iterations = 15,
          weightCol = Some("w"))
        .select(col("node").as("doc_id"), col("rank_scaled"))
        .orderBy("doc_id")
    }),

    // FIRST-CLASS connected components (the r10 verdict's gap: CC was
    // only reachable through the dedup-cluster rows): a closed-form
    // synthetic graph exercising every shape the operator must survive —
    // a 101-node chain (the diameter worst case naive propagation walks
    // in n rounds), a degree-100 hub (the skew shape whose star rounds
    // funnel through one window partition), seven mod-7 rings, a
    // self-loop (the between(150,250) bound includes (150,150) — must
    // drop), and ~240 isolated nodes (singleton components via `nodes`).
    // The oracle replays the closure as the recursive label-propagation
    // CTE the cluster rows use.
    "graph_components" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 400).select(col("doc_id"))
      val chain = d.filter(col("doc_id") < 100)
        .select(col("doc_id").as("src"), (col("doc_id") + 1L).as("dst"))
      val hub = d.filter(col("doc_id").between(150, 250))
        .select(lit(150L).as("src"), col("doc_id").as("dst"))
      val rings = d.filter(col("doc_id").between(260, 299))
        .select(col("doc_id").as("src"), (col("doc_id") % 7 + 300L).as("dst"))
      graft.operators.Graph.connectedComponents(
          chain.unionByName(hub).unionByName(rings), "src", "dst",
          nodes = Some(d), nodeCol = "doc_id")
        .select(col("node").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    // per-node triangle counts (degree-oriented wedge counting): the
    // local-clustering datacard signal. Closed-form synthetic graph —
    // consecutive +1/+2 edges tile the ring with triangles, the 3d+7
    // map adds irregular chords (and one self-loop at d=147, which the
    // canonicalization must drop); the oracle enumerates x<y<z
    // triangles directly by a three-way join on the identical edge set.
    "graph_triangles" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 300).select(col("doc_id"))
      val m = d.agg((max(col("doc_id")) + 1L).as("__m"))
      val edges = d.crossJoin(broadcast(m))
        .select(col("doc_id").as("src"),
          explode(array(
            (col("doc_id") + 1L) % col("__m"),
            (col("doc_id") + 2L) % col("__m"),
            (col("doc_id") * 3L + 7L) % col("__m"))).as("dst"))
      graft.operators.Graph.triangleCounts(edges, "src", "dst",
          nodes = Some(d), nodeCol = "doc_id")
        .select(col("node").as("doc_id"), col("triangles"))
        .orderBy("doc_id")
    }),

    // seeded label propagation (hard-label spreading): four trusted
    // seeds vote their labels through the doubling expander for 5 fixed
    // synchronous rounds — majority per round, ties to the smallest
    // label, seeds immutable, unlabeled nodes absent. The oracle unrolls
    // all 5 rounds with the identical vote/argmax decomposition.
    "graph_label_prop" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 300).select(col("doc_id"))
      val m = d.agg((max(col("doc_id")) + 1L).as("__m"))
      val edges = d.crossJoin(broadcast(m))
        .select(col("doc_id").as("src"),
          explode(array(
            (col("doc_id") * 2L) % col("__m"),
            (col("doc_id") * 2L + 1L) % col("__m"))).as("dst"))
      val seeds = d.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("node"),
          concat(lit("l"), (col("doc_id") % 3).cast("string")).as("label"))
      graft.operators.Graph.labelPropagation(edges, "src", "dst", seeds,
          iterations = 5)
        .select(col("node").as("doc_id"), col("label"))
        .orderBy("doc_id")
    }),

    // WEIGHTED label propagation: the same expander and seeds, each
    // edge voting its weight 1 + (src+dst) % 5 instead of 1 — on this
    // graph the weighting FLIPS 33 of the 301 assignments vs the
    // unweighted row (GraphSpec pins the flip count; a weighted row
    // that agreed everywhere would prove nothing). The oracle carries
    // the directed-pair-sum → max-across-directions edge identity and
    // sums weights in each round's vote CTE.
    "graph_label_prop_weighted" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 300).select(col("doc_id"))
      val m = d.agg((max(col("doc_id")) + 1L).as("__m"))
      val edges = d.crossJoin(broadcast(m))
        .select(col("doc_id").as("src"),
          explode(array(
            (col("doc_id") * 2L) % col("__m"),
            (col("doc_id") * 2L + 1L) % col("__m"))).as("dst"))
        .withColumn("w", lit(1L) + (col("src") + col("dst")) % 5L)
      val seeds = d.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("node"),
          concat(lit("l"), (col("doc_id") % 3).cast("string")).as("label"))
      graft.operators.Graph.labelPropagation(edges, "src", "dst", seeds,
          iterations = 5, weightCol = Some("w"))
        .select(col("node").as("doc_id"), col("label"))
        .orderBy("doc_id")
    }),

    // multi-source BFS hop distances (frontier expansion): the
    // distance-to-seed-set proximity feature. The doubling graph
    // (n → 2n, 2n+1 mod m) is an expander — diameter 8 from source 7
    // with a rich per-level distribution (GraphSpec-class shape, and the
    // oracle's recursive CTE walk bound of 16 covers it with margin);
    // docs 301..400 exist in the corpus but have no edges, so they are
    // correctly ABSENT from the result, not null-filled.
    "graph_bfs" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 300).select(col("doc_id"))
      val m = d.agg((max(col("doc_id")) + 1L).as("__m"))
      val edges = d.crossJoin(broadcast(m))
        .select(col("doc_id").as("src"),
          explode(array(
            (col("doc_id") * 2L) % col("__m"),
            (col("doc_id") * 2L + 1L) % col("__m"))).as("dst"))
      graft.operators.Graph.bfsDistances(edges, "src", "dst",
          sources = d.filter(col("doc_id") === 7), sourceCol = "doc_id")
        .select(col("node").as("doc_id"), col("dist"))
        .orderBy("doc_id")
    }),

    // WEIGHTED shortest paths (frontier Bellman-Ford) over the same
    // doubling expander, each edge costing 1 + (src+dst) mod 5 — the
    // weighted twin of graph_bfs for cost-carrying link graphs. The
    // oracle enumerates bounded-cost walks in a recursive CTE (UNION
    // dedups exact (node, cost) pairs; the 64 bound is diameter 8 ×
    // max weight 5 with margin) and takes the per-node minimum.
    "graph_shortest_paths" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 300).select(col("doc_id"))
      val m = d.agg((max(col("doc_id")) + 1L).as("__m"))
      val edges = d.crossJoin(broadcast(m))
        .select(col("doc_id").as("src"),
          explode(array(
            (col("doc_id") * 2L) % col("__m"),
            (col("doc_id") * 2L + 1L) % col("__m"))).as("dst"))
        .withColumn("w", lit(1L) + (col("src") + col("dst")) % 5L)
      graft.operators.Graph.shortestPaths(edges, "src", "dst",
          sources = d.filter(col("doc_id") === 7), sourceCol = "doc_id")
        .select(col("node").as("doc_id"), col("dist"))
        .orderBy("doc_id")
    }),

    // k-core decomposition: the graph-datacard density
    // signal. Closed-form synthetic graph with a genuine 7-round peel
    // cascade — the +1/+2 ring and d²+7 chords give everyone degree ~6
    // (below k=7, so the periphery unravels wave by wave), while a
    // dense j=3..6 block on nodes 0..60 survives as a 57-node core with
    // fixpoint degrees 7..14 (GraphSpec pins the shape and that the
    // cascade fits the oracle's 12 unrolled rounds with margin). The
    // oracle replays batch peeling, one degree aggregate + two
    // membership filters per round, which reaches the same core.
    "graph_kcore" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 300).select(col("doc_id"))
      val m = d.agg((max(col("doc_id")) + 1L).as("__m"))
      val ring = d.crossJoin(broadcast(m))
        .select(col("doc_id").as("src"),
          explode(array(
            (col("doc_id") + 1L) % col("__m"),
            (col("doc_id") + 2L) % col("__m"),
            (col("doc_id") * col("doc_id") + 7L) % col("__m"))).as("dst"))
      val block = d.filter(col("doc_id") <= 60)
        .select(col("doc_id").as("src"),
          explode(array((3 to 6).map(j => col("doc_id") + j): _*)).as("dst"))
        .filter(col("dst") <= 60)
      graft.operators.Graph.kCore(ring.unionByName(block), "src", "dst", k = 7)
        .select(col("node").as("doc_id"), col("core_deg"))
        .orderBy("doc_id")
    }),

    // TRANSITIVE duplicate clusters: portable banding → min-link
    // candidates → Jaccard verify → large-star/small-star connected
    // components (Graph.connectedComponents). DuckDB replays the closure
    // as a recursive label-propagation CTE over the identical verified
    // edge set, so the full cluster ASSIGNMENT is hash-checked — chains
    // of drifted revisions must land in one cluster in both engines.
    // xxhash64 banding over the unbounded corpus stays the performance
    // default (`dedup_cluster`).
    "dedup_cluster_oracled" -> ((s, dir) =>
      Dedup.clustersPortable(
          s.read.parquet(s"$dir/documents.parquet"),
          bands = 32, threshold = 0.5, maxId = 300L)
        .orderBy("doc_id")),

    // duplicate-cluster size distribution — the datacard row transitive
    // clustering exists for (keep-one can't see cluster structure)
    "dedup_cluster_stats" -> ((s, dir) =>
      Dedup.clustersPortable(
          s.read.parquet(s"$dir/documents.parquet"),
          bands = 32, threshold = 0.5, maxId = 300L)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")),

    // cluster-level survivor selection: within each TRANSITIVE cluster
    // keep the longest doc by the stored n_chars (ties → smallest id) —
    // the policy exactKeepBest applies per exact-fingerprint group,
    // lifted to near-dup clusters. One partial-combined max(struct)
    // aggregate per cluster, no window over the corpus.
    "dedup_cluster_keep_best" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.clustersPortable(docs, bands = 32, threshold = 0.5, maxId = 300L)
        .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"),
          max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("__best"))
        .select(col("cluster_id"), (-col("__best.nid")).as("kept_id"),
          col("cluster_size"))
        .orderBy("cluster_id")
    }),

    // TIERED dedup (exact collapse → minhash near-dup over survivors) in
    // portable mode, end-to-end hash-verified. The corpus has no exact
    // duplicates, so whitespace-variant copies are injected at doc_id+1000
    // (both engines construct the identical augmented corpus, the piiDocs
    // trick): tier 1 must collapse every copy onto its original via the
    // normalization-insensitive md5 fingerprint, tier 2 then near-dups the
    // survivors — the production layering for duplicate-saturated corpora
    // (see Dedup.tiered scaladoc and the sf10 soak numbers)
    "dedup_tiered_oracled" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
        .filter(col("doc_id") <= 300)
      val aug = d.unionByName(
        d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000).as("doc_id"),
            regexp_replace(col("text"), " ", "  ").as("text"), col("source")))
      Dedup.tieredPortable(aug, maxId = 2000L)
        .select("doc_id", "source").orderBy("doc_id")
    }),

    // streaming dedup replayed across stop/start cycles: later slices
    // RE-SEND earlier rows byte-identically, and the final sink must
    // equal the original corpus — state recovery at each restart is what
    // drops a resend whose original arrived cycles earlier. Built once
    // per corpus (completion-marker-gated)
    "stream_dedup_oracled" -> ((s, dir) => {
      val work = fixtureDir("sdedup", "documents")(dir)
      graft.streaming.Replay.streamingDedupReplay(s,
          s.read.parquet(s"$dir/documents.parquet"), work.toString)
        .orderBy("doc_id")
    }),

    // simhash under the portable md5 hash: chunk blocking + Hamming
    // verify hash-checked as a pair set (DuckDB recomputes the identical
    // 64-bit sign vector, chunks, and distances in closed form)
    "simhash_portable_pairs" -> ((s, dir) =>
      Dedup.simhashPortablePairs(
          s.read.parquet(s"$dir/documents.parquet"), maxHamming = 6, maxId = 300L)
        .orderBy("id_a", "id_b")),

    // ...and the full portable simhash dedup (blocking → verify →
    // anti-join); the codegen'd xxhash64 kernel (`dedup_simhash`) stays
    // the scale default
    "dedup_simhash_oracled" -> ((s, dir) =>
      Dedup.simhashPortable(
          s.read.parquet(s"$dir/documents.parquet"), maxHamming = 6, maxId = 300L)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // transitive duplicate groups over the verify pairs: Spark runs
    // iterative min-label propagation; the oracle computes the same
    // closure with a recursive CTE — two entirely different execution
    // strategies, one answer
    "dedup_groups" -> ((s, dir) => {
      val sh = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 300)
        .select(col("doc_id").as("id"),
          graft.functions.MinHash.shingleHashesSorted(
            split(lower(trim(col("text"))), "\\s+"), 3).as("sh"))
      val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
      val pairs = a.join(b, col("id_a") < col("id_b"))
        .withColumn("jaccard",
          graft.functions.MinHash.jaccardSorted(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= 0.05)
        .select(col("id_a"), col("id_b"))
      Dedup.duplicateGroups(pairs).orderBy("id")
    }),

    // leakage-safe split: the dedup_groups clusters move as one unit
    // through the deterministic splitter (split keyed by group
    // representative), so near-dups never straddle train/val/test
    "curation_split_grouped" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") <= 300)
      val sh = d.select(col("doc_id").as("id"),
        graft.functions.MinHash.shingleHashesSorted(
          split(lower(trim(col("text"))), "\\s+"), 3).as("sh"))
      val pairs = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
        .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")),
          col("id_a") < col("id_b"))
        .filter(graft.functions.MinHash.jaccardSorted(
          col("sh_a"), col("sh_b")) >= 0.05)
        .select(col("id_a"), col("id_b"))
      graft.operators.Curation.groupedSplit(d,
          Dedup.duplicateGroups(pairs), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    // -- similarity search ------------------------------------------------
    "knn_brute" -> ((s, dir) =>
      Similarity.bruteForceTopK(
        s.read.parquet(s"$dir/embeddings.parquet"), queryVec(s, dir), k = 20)),

    "embedding_norms" -> ((s, dir) => {
      s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), round(V.l2Norm(col("embedding")), 4).as("norm"),
          col("label"))
        .orderBy("vec_id")
    }),

    // exact all-pairs cosine near-dup on an id range — the DuckDB-oracled
    // baseline for the verify stage of dedup_embedding (whose LSH blocking
    // is not SQL-expressible)
    "embedding_dup_brute" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") < 200)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val a = e.select(col("id").as("id_a"), col("v").as("v_a"))
      val b = e.select(col("id").as("id_b"), col("v").as("v_b"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos", V.cosineFused(col("v_a"), col("v_b")))
        .filter(col("cos") >= 0.4)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
        .orderBy("id_a", "id_b")
    }),

    // exact per-left top-k join on a small left subset — the DuckDB-oracled
    // baseline for the LSH-blocked knn_join (which is checked by recall
    // floor in ExtensionsSpec instead)
    "knn_join_brute" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val l = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("id_l"), col("embedding").as("v_l"))
      val r = e.select(col("vec_id").as("id_r"), col("embedding").as("v_r"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id_l")).orderBy(col("cos").desc, col("id_r"))
      l.crossJoin(r).filter(col("id_l") =!= col("id_r"))
        .withColumn("cos", round(V.cosineFused(col("v_l"), col("v_r")), 4))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("id_l"), col("id_r"), col("cos"), col("rank"))
        .orderBy("id_l", "rank")
    }),

    // band... er, bucket selection under PORTABLE md5-derived integer
    // planes, in isolation: DuckDB recomputes the identical closed-form
    // bucket bits (exact integer dot signs — no FP sign-flip risk), so
    // the hyperplane blocking stage itself is hash-checked, the way
    // minhash_band_candidates pins minhash banding
    "lsh_bucket_candidates" -> ((s, dir) =>
      Dedup.embeddingPortableCandidates(
          s.read.parquet(s"$dir/embeddings.parquet"))
        .orderBy("id_a", "id_b")),

    // the FULL embedding near-dup pipeline (portable hyperplane blocking
    // → candidates → exact cosine verify → anti-join) end-to-end
    // hash-verified; Gaussian planes stay the perf default
    // (`dedup_embedding`). Threshold 0.4: the corpus holds ~59 pairs
    // above it, so the verify stage does real work (579 candidates → 1
    // surviving dup at sf0.01) instead of passing everything through
    "dedup_embedding_oracled" -> ((s, dir) =>
      Dedup.embeddingPortable(
          s.read.parquet(s"$dir/embeddings.parquet"), threshold = 0.4)
        .select("vec_id", "label")
        .orderBy("vec_id")),

    // ANN against the STORED portable-plane index: the partition-pruned
    // probe path itself (write → Hamming partition predicate → top-k) is
    // hash-checked, not just the scan-side blocking. Index built once per
    // corpus into a deterministic location (same amortization argument as
    // knn_lsh_indexed)
    "knn_lsh_indexed_oracled" -> ((s, dir) =>
      Similarity.lshTopKIndexedPortable(s, lshPortableIndex.path(s, dir),
        queryVec(s, dir), k = 20, probeHamming = 2)),

    // SemDeDup-style semantic dedup hash-verified end to end: nearest-
    // centroid cluster blocking (fixed portable centroids → closed-form
    // argmin in DuckDB) → within-cell cosine verify → drop smaller-id
    // near-dups. Same threshold as dedup_embedding_oracled so the two
    // blocking strategies are directly comparable on this corpus; the
    // production fitted-k-means twin is dedup_semantic
    "dedup_semantic_oracled" -> ((s, dir) =>
      Dedup.semantic(
          s.read.parquet(s"$dir/embeddings.parquet"),
          V.portableCentroids(8, 64), threshold = 0.4)
        .select("vec_id", "label")
        .orderBy("vec_id")),

    // the production SemDeDup path: k-means centers fitted on the corpus
    // (Similarity.ivfFit — not SQL-expressible, hence rows-only), then the
    // IDENTICAL Dedup.semantic body the oracled twin hash-checks
    "dedup_semantic" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Dedup.semantic(e, Similarity.ivfFit(e, numCells = 8).centers,
          threshold = 0.4)
        .select("vec_id", "label")
        .orderBy("vec_id")
    }),

    // IVF assignment with FIXED md5-derived centroids: pins the native
    // NearestCenter expression (the per-row kernel of the IVF family)
    // against DuckDB's argmin of closed-form distances; the k-means fit
    // (not SQL-expressible) stays covered by the recall spec
    "ivf_assign_oracled" -> ((s, dir) =>
      Similarity.ivfAssignPortable(
          s.read.parquet(s"$dir/embeddings.parquet"))
        .orderBy("vec_id")),

    // the FULL IVF query path (assignment → nProbes-nearest-cell
    // selection → cell filter → rounded-cosine top-k) with fixed portable
    // centroids: every stage closed-form in DuckDB (argmin + filter +
    // window), so the whole ANN-by-IVF machinery is hash-checked; the
    // k-means FIT (knn_ivf) stays recall/PlanSpec-pinned — fitted cells
    // flow through exactly this query path
    "knn_ivf_oracled" -> ((s, dir) =>
      Similarity.ivfTopKPortable(
        s.read.parquet(s"$dir/embeddings.parquet"), queryVec(s, dir),
        k = 20, nProbes = 3)),

    // incremental IVF maintenance: build the stored index on the first
    // half of the corpus, APPEND the second half assigned with the
    // FROZEN centers (O(batch), no rebuild), probe the result. The
    // oracle is the plain full-corpus IVF probe — same SQL as
    // knn_ivf_oracled — because a cell is a pure function of the frozen
    // centers: append must be indistinguishable from a rebuild
    "knn_ivf_append_oracled" -> ((s, dir) =>
      Similarity.IvfIndex(V.portableCentroids(8, 64))
        .topKStored(s, ivfAppend.path(s, dir), queryVec(s, dir),
          k = 20, nProbes = 3)),

    // product-quantization ADC top-20 under fixed md5 codebooks: encode
    // (8× NearestCenter over sliced subvectors) + query-side distance
    // table + per-row table-lookup scoring, all replayed in closed form
    // by DuckDB; ranking by rounded ADC with id tiebreak
    "knn_pq_oracled" -> ((s, dir) =>
      Similarity.pqPortable().topK(
        s.read.parquet(s"$dir/embeddings.parquet"), queryVec(s, dir),
        k = 20)),

    // the STORED-codes PQ probe: codebooks + (id, codes) parquet written
    // once (completion-marker-gated), probe rehydrates the codebooks and
    // ADC-scores the slim codes table — no float vector scanned anywhere.
    // Same oracle SQL as knn_pq_oracled: storage must be a pure round
    // trip, so this row pins write → load → probe end to end
    "knn_pq_indexed_oracled" -> ((s, dir) => {
      val path = pqIndex.path(s, dir)
      Similarity.pqLoad(s, path)
        .topKIndexed(s, path, queryVec(s, dir), k = 20)
    }),

    // PQ-codes O(batch) append: second half encoded by the REHYDRATED
    // index (frozen codebooks => append ≡ re-encode exactly), probes
    // must match the full-corpus ADC oracle verbatim
    "knn_pq_append_oracled" -> ((s, dir) => {
      val path = pqAppend.path(s, dir)
      Similarity.pqLoad(s, path)
        .topKIndexed(s, path, queryVec(s, dir), k = 20)
    }),

    // IVF-PQ (IVFADC): coarse routing on fixed md5 centroids (the
    // knn_ivf_oracled machinery under the data-scaled 'ivfq:' namespace)
    // + PQ over the cell RESIDUAL on fixed 'pqr:' codebooks; the query
    // probes its 3 nearest cells, each with its own residual distance
    // table. Route, residual, encode, probe selection, and per-cell ADC
    // are all closed-form in DuckDB — the full billion-scale composite
    // pipeline hash-checked end to end
    "knn_ivfpq_oracled" -> ((s, dir) =>
      Similarity.ivfPqPortable().topK(
        s.read.parquet(s"$dir/embeddings.parquet"), queryVec(s, dir),
        k = 20, nProbes = 3)),

    // MMR diversity rerank (Carbonell–Goldstein): candidates scored
    // against the query vector (vec_id 0) on a FIXED 256x integer
    // lattice (a GLOBAL scale keeps dot products comparable across
    // pairs, unlike the per-vector int8 storage scale), then k=12
    // greedy picks at lambda=1/2 — objective rel − maxsim, all int64,
    // ties to smallest id. The oracle unrolls the 12 rounds: argmax per
    // round over candidates minus picks, max-dot against the pick set
    "knn_mmr_rerank" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      def qz(c: Column) =
        transform(c, x => round(x.cast("double") * 256).cast("int"))
      val qv = emb.filter(col("vec_id") === 0)
        .select(qz(col("embedding")).as("__qv"))
      val cand = emb.filter(col("vec_id") > 0)
        .select(col("vec_id"), qz(col("embedding")).as("__v"))
        .crossJoin(broadcast(qv))
        .withColumn("rel", V.dotInt(col("__v"), col("__qv")))
      Similarity.mmrSelect(cand, "vec_id", "rel", "__v", k = 12)
        .orderBy("rank")
    }),

    // the multi-table OR-amplified ANN scan under portable buckets: the
    // scan-side complement of knn_lsh_indexed_oracled — a row qualifies
    // when within Hamming-2 of the query in EITHER namespaced table, and
    // DuckDB reproduces the OR filter + top-k in closed form. Same
    // production lshTopK code path as knn_lsh, portable planes swapped in
    "knn_lsh_oracled" -> ((s, dir) =>
      Similarity.lshTopK(
        s.read.parquet(s"$dir/embeddings.parquet"), queryVec(s, dir), k = 20,
        probeHamming = 2, numTables = 2, portable = true)),

    // the FULL kNN-join pipeline (2-table blocking join on slim keys →
    // cross-table dedup → per-left rank window) under portable buckets,
    // hash-checked end to end THROUGH THE PRODUCTION knnJoin — both skew
    // caps active at their defaults; the corpus is small enough that
    // neither cap binds (ExtensionsSpec pins capped ≡ uncapped on this
    // corpus), so the DuckDB oracle needs no cap arithmetic. Ranks order
    // by rounded cosine + id so rank assignment is engine-independent.
    // knn_join (Gaussian planes) stays the perf path; left is bounded
    // here as in knn_join_brute
    "knn_join_oracled" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.knnJoin(e.filter(col("vec_id") < 50), e, k = 5,
          numPlanes = 8, numTables = 2, portable = true)
        .orderBy("id_l", "rank")
    }),

    // -- streaming replay (batch-equivalence pin) -------------------------
    // the events table replayed through a REAL Structured Streaming query
    // (file source → watermarked windowed agg → append file sink) as 5
    // stop/start cycles over one checkpoint; the final sink must equal a
    // plain batch GROUP BY over the whole table — pinning exactly-once
    // source progress, watermark-driven append emission, and checkpoint
    // recovery against an engine that never saw a stream. Built once per
    // corpus (completion-marker-gated), like the stored ANN indexes.
    "stream_replay_oracled" -> ((s, dir) => {
      val work = fixtureDir("replay", "events")(dir)
      val ev = events(s, dir).select(col("event_id"),
        timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      graft.streaming.Replay.windowedCountsReplay(s, ev, work.toString)
        .orderBy("window_start_us", "event_type")
    }),

    // the flatMapGroupsWithState sessionizer replayed across 5 stop/start
    // cycles: closed sessions must equal the batch gap-sessionization of
    // the whole table — pinning cross-restart session state, inline
    // gap-close emission, and event-time timeout flushing cross-engine
    "stream_sessions_oracled" -> ((s, dir) => {
      val work = fixtureDir("sessreplay", "events")(dir)
      val ev = events(s, dir).select(col("event_id"),
        timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      graft.streaming.Replay.sessionizeReplay(s, ev, work.toString)
        .orderBy("user_id", "session_start_us")
    }),

    // the stream-stream interval join replayed across restart cycles:
    // click→purchase attribution pairs must equal the batch interval
    // join — pinning cross-restart join buffers and interval-conditional
    // state eviction cross-engine
    "stream_join_oracled" -> ((s, dir) => {
      val work = fixtureDir("joinreplay", "events")(dir)
      val ev = events(s, dir).select(col("event_id"),
        timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      graft.streaming.Replay.intervalJoinReplay(s, ev, work.toString)
        .orderBy("l_id", "r_id")
    }),

    // the LEFT OUTER stream-stream join: same pipeline, plus every
    // unmatched click must surface exactly once with null purchase
    // columns — emitted only after the watermark proved no partner can
    // arrive (deferred-null semantic, sentinel-flushed at the tail)
    "stream_join_outer_oracled" -> ((s, dir) => {
      val work = fixtureDir("ojoinreplay", "events")(dir)
      val ev = events(s, dir).select(col("event_id"),
        timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      graft.streaming.Replay.intervalJoinReplay(s, ev, work.toString,
          joinType = "leftOuter")
        .orderBy("l_id", "r_id")
    }),

    // FULL OUTER completes the stream-stream join matrix: unmatched rows
    // surface from BOTH sides once their watermark windows close
    "stream_join_full_oracled" -> ((s, dir) => {
      val work = fixtureDir("fjoinreplay", "events")(dir)
      val ev = events(s, dir).select(col("event_id"),
        timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      graft.streaming.Replay.intervalJoinReplay(s, ev, work.toString,
          joinType = "fullOuter")
        .orderBy(col("l_id").asc_nulls_first, col("r_id").asc_nulls_first)
    }),

    // -- multimodal metadata (binary payload plumbing) --------------------
    "media_meta" -> ((s, dir) => {
      Media.synthesize(s.read.parquet(s"$dir/documents.parquet")).toDF()
        .select(col("media_id"), col("kind"),
          length(col("payload")).cast("long").as("byte_len"),
          sha2(col("payload"), 256).as("sha256"))
        .orderBy("media_id")
    }),

    "media_quarantine" -> ((s, dir) => {
      // the codec boundary as a ROUTE, not a silent stub: the mixed
      // corpus (see the mediaMix fixture — decodable MPNG AVIs and PCM16 WAVs
      // interleaved with codec-compressed MP4s and mislabeled
      // text-byte "images") flows through the same sniff+decode probes
      // the embedding path dispatches on; exactly the rows whose
      // features would have been the digest stub land here with a
      // reason, ready to park or re-ingest after transcoding. The mix
      // is a STORED fixture (built once per corpus, timed as
      // index_media_mix_build) so this row measures the routing
      // probes, not the PNG encoder synthesizing AVI frames. The
      // oracle predicts the FULL routing in closed form: any decodable
      // row leaking in (or clean row leaking out) breaks the hash.
      import s.implicits._
      Media.quarantineUndecodable(
          s.read.parquet(mediaMix.path(s, dir)).as[Media.MediaFile])
        .orderBy("media_id")
    }),

    // -- non-SQL-expressible operators (rows-only driver check) -----------
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhash(s.read.parquet(s"$dir/documents.parquet"), threshold = 0.5)
        .select("doc_id").orderBy("doc_id")),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(s.read.parquet(s"$dir/documents.parquet"), maxHamming = 3)
        .select("doc_id").orderBy("doc_id")),

    // performance twin of dedup_cluster_oracled: xxhash64 banding over
    // the UNBOUNDED corpus feeding the same Graph.connectedComponents —
    // the scale row for transitive clustering (min-link keeps candidate
    // volume linear; star contraction keeps rounds logarithmic)
    "dedup_cluster" -> ((s, dir) =>
      Dedup.clusters(s.read.parquet(s"$dir/documents.parquet"), threshold = 0.5)
        .orderBy("doc_id")),

    "dedup_embedding" -> ((s, dir) =>
      Dedup.embedding(s.read.parquet(s"$dir/embeddings.parquet"), threshold = 0.95)
        .select("vec_id").orderBy("vec_id")),

    "knn_lsh" -> ((s, dir) =>
      Similarity.lshTopK(s.read.parquet(s"$dir/embeddings.parquet"),
        queryVec(s, dir), k = 20, probeHamming = 2)),

    // ANN against the STORED multi-table LSH index: write L bucket-
    // partitioned copies, probe each with a partition-pruned read
    // (PlanSpec asserts pruning + result equality with the scan variant).
    "knn_lsh_indexed" -> ((s, dir) =>
      // index built ONCE per corpus into a deterministic location, then
      // probed — an index amortizes its build over many queries, so the
      // steady-state probe is the honest per-query cost (scd_cdc_stored
      // measures the opposite trade: per-cycle writes; Bench times the
      // build separately as index_lsh6_build). 6 planes → 64
      // buckets/table, sized so each bucket holds many rows at this
      // corpus size (2^planes ≪ rows — the file-count sizing rule at any
      // scale).
      Similarity.lshTopKIndexed(s, lsh6Index.path(s, dir), queryVec(s, dir),
        k = 20, numPlanes = 6, probeHamming = 2)),

    "knn_ivf" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      // centroids fit on a half-sample: statistically identical centers,
      // half the k-means scan cost (at 100 TB the sample IS the only way)
      Similarity.ivfFit(e, numCells = 8, fitSampleFraction = 0.5)
        .topK(e, queryVec(s, dir), k = 20, nProbes = 3)
    }),

    // production PQ: per-subspace k-means codebooks on a half-sample,
    // ADC shortlist from 8-byte codes, exact cosine re-rank of 100 rows
    "knn_pq" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.pqFit(e, m = 8, ksub = 16, fitSampleFraction = 0.5)
        .topKReranked(e, queryVec(s, dir), k = 20, rerankFactor = 5)
    }),

    // production IVF-PQ: fitted coarse cells + residual codebooks on a
    // half-sample, 3-cell probe, ADC shortlist, exact cosine re-rank
    "knn_ivfpq" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ivfPqFit(e, numCells = 8, m = 8, ksub = 16,
          fitSampleFraction = 0.5)
        .topKReranked(e, queryVec(s, dir), k = 20, rerankFactor = 5,
          nProbes = 3)
    }),

    "knn_join" -> ((s, dir) => {
      // widened read: bucket-key hashing and the candidate cosine verify
      // otherwise pipeline onto a single-split scan (guide §2.5)
      val e = graft.operators.Par
        .ensure(s.read.parquet(s"$dir/embeddings.parquet"))
      Similarity.knnJoin(e.filter(col("vec_id") < 100), e, k = 5)
        .orderBy("id_l", "rank")
    }),

    // the digest-derived stub decode is deterministic CLOSED FORM (sha256
    // bytes → dims/frames/features), so the whole partition-mapped
    // extract is DuckDB-oracled: every metadata column exactly, and the
    // 8-dim feature vector via its exact sum (multiples of 1/128 — no
    // float rounding on either engine)
    "media_features" -> ((s, dir) =>
      Media.extractFeatures(
          Media.synthesize(s.read.parquet(s"$dir/documents.parquet")))
        .toDF()
        .withColumn("byte_len", col("byte_len").cast("long"))
        .withColumn("feat_sum",
          aggregate(col("features"), lit(0.0), (a, x) => a + x.cast("double")))
        .drop("features")
        .orderBy("media_id")),

    // CONTENT-DERIVED image embeddings, hash-checked end to end: a
    // deterministic solid-color BMP corpus (real pixels, lossless
    // format) flows through the real decode → 64-dim block-mean+DCT
    // descriptor (Media.imageEmbedding), and because a solid image's
    // descriptor has a closed form (block means = channel/255, DC =
    // Rec.601 luma, AC = 0), DuckDB predicts every component without
    // decoding a pixel. The +0.0 normalizes the AC dims' -0.0 (their
    // float residue is ~±1e-14 before rounding). Crop/near-dup behavior
    // on non-uniform images is pinned by ExtensionsSpec.
    "media_embedding" -> ((s, dir) =>
      Media.extractFeatures(
          Media.synthesizeImages(s.read.parquet(s"$dir/documents.parquet")))
        .toDF()
        .select(col("media_id"), posexplode(col("features")).as(Seq("pos", "val")))
        .select(col("media_id"), col("pos").cast("long").as("pos"),
          (round(col("val").cast("double"), 4) + lit(0.0)).as("val"))
        .orderBy("media_id", "pos")),

    // the same solid colors through the PNG encoder → magic dispatch →
    // ImageIO's PNG decoder → the SAME descriptor closed form: pins
    // that the content embedding is format-independent. Bounded to the
    // 256-color cycle (doc_id < 256 covers every distinct color): the
    // claim is decode-path parity, and an unbounded row would mostly
    // time the PNG ENCODER synthesizing the fixture
    "media_png_embedding" -> ((s, dir) =>
      Media.extractFeatures(
          Media.synthesizePngs(s.read.parquet(s"$dir/documents.parquet")
            .filter(col("doc_id") < 256)))
        .toDF()
        .select(col("media_id"), posexplode(col("features")).as(Seq("pos", "val")))
        .select(col("media_id"), col("pos").cast("long").as("pos"),
          (round(col("val").cast("double"), 4) + lit(0.0)).as("val"))
        .orderBy("media_id", "pos")),

    // IMAGE NEAR-DUP over real decoded pixels — the composition the
    // media family exists for: BMP corpus with deliberate duplicate
    // colors (23-cycle) → real decode → content descriptor → the
    // PRODUCTION portable-plane LSH dedup (block → cosine verify ≥
    // 0.999 → drop larger ids). Every stage replays in closed form:
    // solid-color descriptors are predictable arithmetic, the bucket
    // bits are the md5-plane integer algebra, and the verify cosine is
    // the same double algebra the brute-force oracle hash-matches — so
    // DuckDB reproduces the exact survivor set without decoding a pixel
    "media_neardup" -> ((s, dir) => {
      // DECODE ONCE: the tiered dedup references its input in three
      // stages (exact-collapse aggregate, representative blocking, the
      // final anti-join), and without materialization each reference
      // re-runs the whole synthesize+decode subtree — measured 3× the
      // decode cost at sf1 on the audio twin. The checkpoint pins the
      // slim (id, 64-float) relation (~100 B/row — shed-the-bytes-early
      // doctrine, Media.extractFeatures doc) so decode happens exactly
      // once regardless of how many passes the dedup makes.
      val vecs = Media.extractFeatures(
          Media.synthesizeImageGroups(
            s.read.parquet(s"$dir/documents.parquet")))
        .toDF()
        .select(col("media_id").as("vec_id"), col("features").as("embedding"))
        .localCheckpoint(true)
      // tiered: bit-identical descriptors (exact image dups) collapse
      // to one representative BEFORE pairwise verify — same survivor
      // set, and the deep duplicate pockets this fixture plants stop
      // costing O(group²) cosines (9.8 s → decode-bound at sf0.1)
      graft.operators.Dedup.embeddingPortableTiered(vecs, threshold = 0.999)
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // CONTENT-DERIVED audio embeddings, hash-checked end to end: a
    // deterministic square-wave WAV corpus (real PCM16 samples, lossless
    // format) flows through the real RIFF parse → 16-dim energy+ZCR
    // descriptor (Media.audioEmbedding), and because a blockwise square
    // wave's statistics have closed forms (block mean|x| = A(id,b)/32768,
    // block ZCR = (256/H − 1)/255), DuckDB predicts every component
    // without reading a sample — the audio twin of media_embedding.
    "media_audio_embedding" -> ((s, dir) =>
      Media.extractFeatures(
          Media.synthesizeWavs(s.read.parquet(s"$dir/documents.parquet")))
        .toDF()
        .select(col("media_id"), posexplode(col("features")).as(Seq("pos", "val")))
        .select(col("media_id"), col("pos").cast("long").as("pos"),
          round(col("val").cast("double"), 4).as("val"))
        .orderBy("media_id", "pos")),

    // AUDIO NEAR-DUP over real decoded samples — WAV corpus with
    // deliberate duplicate waves (23-cycle) → RIFF parse → content
    // descriptor → the PRODUCTION portable-plane LSH dedup (block →
    // cosine verify ≥ 0.999 → drop larger ids). Same replay story as
    // media_neardup: descriptors, bucket bits, and verify cosines are
    // all closed-form arithmetic, so DuckDB reproduces the exact
    // survivor set without parsing a byte of RIFF
    "media_audio_neardup" -> ((s, dir) => {
      // decode once (see media_neardup): without the checkpoint the
      // tiered dedup's three input references re-ran synthesize+decode
      // 3× — the sf1 soak's 18× jump was decode amplification, not the
      // dedup (sf1 measured: 12 s synth+decode, 50.6 s full row before,
      // ~decode+dedup after)
      val vecs = Media.extractFeatures(
          Media.synthesizeWavGroups(
            s.read.parquet(s"$dir/documents.parquet")))
        .toDF()
        .select(col("media_id").as("vec_id"), col("features").as("embedding"))
        .localCheckpoint(true)
      graft.operators.Dedup.embeddingPortableTiered(vecs, dim = 16,
          threshold = 0.999)
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // PDF metadata through the real byte parser: a minimal-but-valid
    // synthetic PDF corpus (catalog → root /Pages /Count → leaf pages)
    // whose version and page count are closed-form in doc_id — the
    // document-modality twin of the image/audio/video header parsers
    "media_pdf_meta" -> ((s, dir) =>
      Media.pdfMetaTable(
          Media.synthesizePdfs(s.read.parquet(s"$dir/documents.parquet")))
        .orderBy("media_id")),

    // CONTENT-DERIVED video embeddings, hash-checked end to end — the
    // last modality graduating from the stub: a Motion-PNG AVI corpus
    // (real RIFF container, real PNG frames with closed-form solid
    // colors per (doc_id, frame)) flows through the real movi chunk
    // walk (Media.extractAviFrames) → per-sampled-frame ImageIO decode
    // → the SAME 64-dim block-mean+DCT image descriptor → left-to-right
    // per-dim frame average (Media.videoEmbedding, stride 2). Every
    // stage is exact arithmetic on lossless frames, so DuckDB predicts
    // all 64 dims of every video without parsing a byte of RIFF.
    // MJPEG rides the identical extraction path (spec-pinned against
    // MPNG within JPEG tolerance); only codec-compressed video stays
    // on the stub. Bounded to 1024 docs (the media_png_embedding
    // precedent): the claim is the parse→decode→pool path, and an
    // unbounded row mostly times the PNG ENCODER synthesizing frames
    // (~2.5 per doc — 6.4 s at sf0.1, the bench's slowest query row,
    // with the measured path itself a fraction of that)
    "media_video_embedding" -> ((s, dir) =>
      Media.extractFeatures(
          Media.synthesizeMpngAvis(s.read.parquet(s"$dir/documents.parquet")
            .filter(col("doc_id") < 1024)))
        .toDF()
        .select(col("media_id"), posexplode(col("features")).as(Seq("pos", "val")))
        .select(col("media_id"), col("pos").cast("long").as("pos"),
          (round(col("val").cast("double"), 4) + lit(0.0)).as("val"))
        .orderBy("media_id", "pos")),

    // frame-sampling plan over REAL container metadata: a minimal-but-
    // real MP4 corpus (the exact box skeleton the parser walks, stsz
    // sample table included) flows through the real ISO-BMFF walk —
    // dims from tkhd's 16.16 fixed-point, frame count from stsz — and
    // the every-30th-frame sampling plan derives from the parsed count.
    // All closed-form in doc_id, so the whole parse is hash-checked
    "media_video_frames" -> ((s, dir) =>
      Media.extractFeatures(
          Media.synthesizeMp4s(s.read.parquet(s"$dir/documents.parquet")))
        .toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          size(sequence(lit(0), col("n_frames") - 1, lit(30)))
            .cast("long").as("n_sampled"))
        .orderBy("media_id")),

    "media_frames" -> ((s, dir) =>
      Media.sampleFrames(
          Media.extractFeatures(
            Media.synthesize(s.read.parquet(s"$dir/documents.parquet"))),
          stride = 30)
        .select(col("media_id"),
          size(col("frame_indices")).cast("long").as("n_sampled"))
        .orderBy("media_id"))
  )

  // ---- DuckDB oracles -----------------------------------------------------

  /** Shared CTE: the synthesized batches in closed form. */
  private val supCte =
    """WITH sup AS (
      |  SELECT s_suppkey AS k,
      |         'S' || CAST(s_suppkey AS VARCHAR) AS code,
      |         s_name AS name,
      |         'ST' || CAST(s_nationkey % 25 AS VARCHAR) AS state0,
      |         'ST' || CAST((s_nationkey + 7) % 25 AS VARCHAR) AS state1
      |  FROM supplier)""".stripMargin

  /** BPE train→encode in closed form — shared by `text_bpe_encode` and
    * the stored-model round trip `text_bpe_encode_stored`: the learning
    * rounds of `vocab_bpe_merges`, then the final vocab applied to the
    * per-doc token stream with ordered unnests. */
  private lazy val bpeEncodeSql: String =
    """WITH v0 AS (
      |  SELECT list_transform(range(len(tok)), j -> tok[j+1:j+1]) AS syms,
      |    CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |        FROM documents)
      |  WHERE tok <> '' GROUP BY 1),""".stripMargin +
      (0 until 4).map(bpeRoundCte).mkString(",") + """,
      |vocabmap AS (SELECT array_to_string(syms, '') AS tok, syms FROM v4),
      |stream AS (
      |  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS tok_idx
      |  FROM (SELECT doc_id,
      |      list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |        t -> t <> '') AS toks
      |    FROM documents)),
      |pieces AS (
      |  SELECT s.doc_id, s.tok_idx, unnest(v.syms) AS piece,
      |    generate_subscripts(v.syms, 1) AS sym_idx
      |  FROM stream s JOIN vocabmap v USING (tok))
      |SELECT doc_id,
      |  CAST(row_number() OVER (PARTITION BY doc_id
      |    ORDER BY tok_idx, sym_idx) AS BIGINT) AS pos,
      |  piece
      |FROM pieces ORDER BY doc_id, pos""".stripMargin

  /** The landing table after batch2 — shared by `scd_upsert_landing` and
    * the Type 4 mid-cycle reconstruction `scd4_asof` (which must equal it
    * exactly). */
  private val landingAfterB2Sql = supCte +
    """
      |SELECT k AS supplier_key, code AS supplier_code,
      |  CASE WHEN k % 5 = 0 THEN name || '_v2' ELSE name END AS supplier_name,
      |  CASE WHEN k % 3 = 0 THEN state1 ELSE state0 END AS supplier_state
      |FROM sup
      |UNION ALL
      |SELECT k + 100000, 'S' || CAST(k + 100000 AS VARCHAR),
      |  'NEW_SUPPLIER_' || CAST(k AS VARCHAR), state0
      |FROM sup WHERE k % 4 = 0
      |ORDER BY supplier_key""".stripMargin

  /** Shared closed-form replay of [[Dedup.clustersPortable]]: portable
    * md5 banding (32 bands × 2 rows) → min-link candidates → Jaccard
    * ≥ 0.5 verify → transitive closure as a recursive label-propagation
    * CTE (`reach` floods every component label along symmetrized edges;
    * the UNION dedup terminates it). Ends with `comp(node, cluster_id)`
    * where `cluster_id` = min reachable doc id — the identical algebra
    * to the Spark side's star contraction, different engine. */
  private val clusterCompSql =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id AS id,
      |    list_distinct(CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
      |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
      |      ELSE list_transform(
      |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
      |        i -> array_to_string(
      |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
      |    END) AS shd
      |  FROM documents WHERE doc_id <= 300),
      |bk AS (
      |  SELECT id, unnest(list_transform(range(32), b ->
      |    md5(b::VARCHAR || '|' || array_to_string(
      |      list_transform(range(b*2, b*2+2), i ->
      |        list_min(list_transform(shd, s -> md5(i::VARCHAR || ':' || s)))), '|')))) AS band
      |  FROM sh),
      |cand AS (
      |  SELECT DISTINCT min_id AS id_a, id AS id_b FROM (
      |    SELECT id, min(id) OVER (PARTITION BY band) AS min_id FROM bk)
      |  WHERE min_id < id),
      |e AS (
      |  SELECT c.id_a, c.id_b
      |  FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b
      |  WHERE len(list_distinct(list_intersect(a.shd, b.shd))) * 1.0 /
      |        len(list_distinct(a.shd || b.shd)) >= 0.5),
      |sym AS (SELECT id_a AS u, id_b AS v FROM e
      |        UNION ALL SELECT id_b, id_a FROM e),
      |reach(node, lab) AS (
      |  SELECT doc_id, doc_id FROM documents WHERE doc_id <= 300
      |  UNION
      |  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node),
      |comp AS (
      |  SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  /** Closed-form replay of [[Graph.pageRank]] on the synthetic doc link
    * graph: the 15 damping iterations UNROLL as chained CTEs (recursive
    * CTEs can't aggregate in the recursive term), every rank an exact
    * integer — `//` is DuckDB's floor division, identical to Spark's
    * `div` on the all-positive lattice; BIGINT casts keep sum() off
    * HUGEINT. */
  /** [[SparkEntry.queries]] `knn_mmr_rerank`'s oracle: the greedy MMR
    * loop unrolled — round 1 is argmax(rel); round i computes, for every
    * candidate not yet picked, the max integer dot against the i−1
    * previous picks (re-derived fresh each round — O(k²) dots at oracle
    * scale beats threading running state through CTEs) and takes
    * argmax(rel − maxsim), ties to smallest id. Quantization and the
    * relevance dot replicate the query's fixed 256× lattice. */
  private val mmrSql: String = {
    val k = 12
    val rounds = (2 to k).map { i =>
      val sel = (1 until i).map(j => s"SELECT * FROM p$j").mkString(" UNION ALL ")
      s"""p$i AS MATERIALIZED (
         |  SELECT c.id, c.v, c.rel, CAST($i AS BIGINT) AS rank,
         |    c.rel - max(CAST(list_sum(list_transform(range(1, len(c.v) + 1),
         |      ii -> c.v[ii] * s.v[ii])) AS BIGINT)) AS obj
         |  FROM c0 c, ($sel) s
         |  WHERE c.id NOT IN (SELECT id FROM ($sel))
         |  GROUP BY c.id, c.v, c.rel
         |  ORDER BY obj DESC, c.id LIMIT 1)""".stripMargin
    }
    s"""WITH c0 AS MATERIALIZED (
       |  SELECT e.vec_id AS id,
       |    list_transform(e.embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT)) AS v,
       |    CAST(list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      ii -> CAST(round(CAST(e.embedding[ii] AS DOUBLE) * 256) AS BIGINT)
       |            * q.v[ii])) AS BIGINT) AS rel
       |  FROM embeddings e,
       |    (SELECT list_transform(embedding,
       |       x -> CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT)) AS v
       |     FROM embeddings WHERE vec_id = 0) q
       |  WHERE e.vec_id > 0),
       |p1 AS MATERIALIZED (
       |  SELECT id, v, rel, CAST(1 AS BIGINT) AS rank, rel AS obj
       |  FROM c0 ORDER BY rel DESC, id LIMIT 1),
       |${rounds.mkString(",\n")}
       |SELECT rank, id AS vec_id, rel, obj AS mmr_obj
       |FROM (${(1 to k).map(j => s"SELECT * FROM p$j").mkString(" UNION ALL ")})
       |ORDER BY rank""".stripMargin
  }

  private val pageRankSql: String = {
    val iters = 15
    val step = (k: Int) =>
      s"""pr${k + 1} AS (SELECT n.node,
         |  CAST((1000000000::BIGINT * 15) // (100 * (SELECT n FROM nn)) +
         |       (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(p.r // d.deg) AS BIGINT) AS s
         |    FROM pr$k p JOIN deg d ON d.src = p.node JOIN e ON e.src = p.node
         |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    s"""WITH nodes AS (SELECT doc_id AS node FROM documents WHERE doc_id <= 300),
       |e AS (
       |  SELECT src, dst FROM (
       |    SELECT node AS src, (node*node + j*31) % (SELECT max(node)+1 FROM nodes) AS dst
       |    FROM nodes, (VALUES (1),(2),(3)) AS t(j))
       |  WHERE dst IN (SELECT node FROM nodes)),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |pr0 AS (SELECT node,
       |  CAST(1000000000::BIGINT // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes),
       |${(0 until iters).map(step).mkString(",\n")}
       |SELECT node AS doc_id, r AS rank_scaled FROM pr$iters ORDER BY doc_id""".stripMargin
  }

  /** [[pageRankSql]]'s dangling-redistribution twin: the graph has
    * ~200 sinks by construction (only node < 200 has outlinks), and
    * each unrolled round adds the redistribution term
    * `(85·D) // (100·n)` with `D` the previous round's dangling-rank
    * sum — the identical three-way truncating-div decomposition the
    * operator computes (div does not distribute over +, so the oracle
    * must keep the three terms separate exactly as Spark does). CTEs
    * are MATERIALIZED: each round reads `pr_k` twice (dangling sum +
    * contributions), and DuckDB inlines plain CTEs — 15 doubly-
    * referenced rounds would inline a 2¹⁵-leaf plan tree (observed as
    * "too many open files" on the parquet scan). */
  private val pageRankDanglingSql: String = {
    val iters = 15
    val step = (k: Int) =>
      s"""dg$k AS MATERIALIZED (SELECT (SELECT coalesce(sum(r), 0) FROM pr$k
         |  WHERE node NOT IN (SELECT src FROM deg)) AS d),
         |pr${k + 1} AS MATERIALIZED (SELECT n.node,
         |  CAST((1000000000::BIGINT * 15) // (100 * (SELECT n FROM nn)) +
         |       (85 * coalesce(c.s, 0)) // 100 +
         |       (85 * (SELECT d FROM dg$k)) // (100 * (SELECT n FROM nn))
         |    AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(p.r // d.deg) AS BIGINT) AS s
         |    FROM pr$k p JOIN deg d ON d.src = p.node JOIN e ON e.src = p.node
         |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    s"""WITH nodes AS (SELECT doc_id AS node FROM documents WHERE doc_id <= 400),
       |e AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT node AS src, (node*node + j*31) % (SELECT max(node)+1 FROM nodes) AS dst
       |    FROM nodes, (VALUES (1),(2)) AS t(j) WHERE node < 200)
       |  WHERE dst IN (SELECT node FROM nodes)),
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |pr0 AS MATERIALIZED (SELECT node,
       |  CAST(1000000000::BIGINT // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes),
       |${(0 until iters).map(step).mkString(",\n")}
       |SELECT node AS doc_id, r AS rank_scaled FROM pr$iters ORDER BY doc_id""".stripMargin
  }

  /** [[pageRankSql]]'s weighted twin: each edge carries integer weight
    * `1 + (src + 13j) mod 5`, the out-mass divisor is `Σw` per source,
    * and every edge row contributes `(r·w) // Σw` — the identical
    * truncating-division decomposition the operator computes (per edge
    * row, never pre-summed over parallel edges). MATERIALIZED for the
    * [[pageRankDanglingSql]] reason. */
  private val pageRankWeightedSql: String = {
    val iters = 15
    val step = (k: Int) =>
      s"""pr${k + 1} AS MATERIALIZED (SELECT n.node,
         |  CAST((1000000000::BIGINT * 15) // (100 * (SELECT n FROM nn)) +
         |       (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum((p.r * e.w) // d.deg) AS BIGINT) AS s
         |    FROM pr$k p JOIN deg d ON d.src = p.node JOIN e ON e.src = p.node
         |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    s"""WITH nodes AS (SELECT doc_id AS node FROM documents WHERE doc_id <= 300),
       |e AS MATERIALIZED (
       |  SELECT src, dst, w FROM (
       |    SELECT node AS src,
       |      (node*node + j*31) % (SELECT max(node)+1 FROM nodes) AS dst,
       |      1 + (node + j*13) % 5 AS w
       |    FROM nodes, (VALUES (1),(2),(3)) AS t(j))
       |  WHERE dst IN (SELECT node FROM nodes)),
       |deg AS MATERIALIZED (SELECT src, sum(w) AS deg FROM e GROUP BY 1),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |pr0 AS MATERIALIZED (SELECT node,
       |  CAST(1000000000::BIGINT // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes),
       |${(0 until iters).map(step).mkString(",\n")}
       |SELECT node AS doc_id, r AS rank_scaled FROM pr$iters ORDER BY doc_id""".stripMargin
  }

  /** The near-dup integration twin of [[pageRankWeightedSql]]: edges are
    * the exact n-gram Jaccard pairs (the `ngram_jaccard_pairs` CTE,
    * verbatim), weights `floor(round(j,4)·10⁴)` — stable because the
    * rounded jaccard itself is hash-green cross-engine — and the
    * 15 weighted rounds replay under the default leak policy (isolated
    * docs keep base rank; no-outlink nodes contribute nothing). */
  private val pageRankNearDupSql: String = {
    val iters = 15
    val step = (k: Int) =>
      s"""pr${k + 1} AS MATERIALIZED (SELECT n.node,
         |  CAST((1000000000::BIGINT * 15) // (100 * (SELECT n FROM nn)) +
         |       (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum((p.r * e.w) // d.deg) AS BIGINT) AS s
         |    FROM pr$k p JOIN deg d ON d.src = p.node JOIN e ON e.src = p.node
         |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    s"""WITH nodes AS (SELECT doc_id AS node FROM documents WHERE doc_id <= 150),
       |sh AS (
       |  SELECT doc_id AS id,
       |    CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) < 3
       |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\\s+'), ' ')]
       |      ELSE list_transform(
       |        range(len(string_split_regex(lower(trim(text)), '\\s+')) - 2),
       |        i -> array_to_string(
       |          string_split_regex(lower(trim(text)), '\\s+')[i+1:i+3], ' '))
       |    END AS sh
       |  FROM documents WHERE doc_id <= 150),
       |pairs AS MATERIALIZED (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(floor(round(len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
       |          len(list_distinct(a.sh || b.sh)), 4) * 10000) AS BIGINT) AS w
       |  FROM sh a JOIN sh b ON a.id < b.id
       |  WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
       |        len(list_distinct(a.sh || b.sh)) >= 0.1),
       |e AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst, w FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a, w FROM pairs),
       |deg AS MATERIALIZED (SELECT src, sum(w) AS deg FROM e GROUP BY 1),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |pr0 AS MATERIALIZED (SELECT node,
       |  CAST(1000000000::BIGINT // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes),
       |${(0 until iters).map(step).mkString(",\n")}
       |SELECT node AS doc_id, r AS rank_scaled FROM pr$iters ORDER BY doc_id""".stripMargin
  }

  /** [[Dedup.keepCentral]]'s oracle: the [[pageRankNearDupSql]] replay
    * opened to doc_id ≤ 300 at threshold 0.02 (exact shingle pairs → 15
    * unrolled weighted rounds), the transitive closure as the
    * [[clusterCompSql]] recursive label flood over the same pair
    * relation, then one per-cluster argmax (rank desc, id asc). */
  private val keepCentralSql: String = {
    val iters = 15
    val step = (k: Int) =>
      s"""pr${k + 1} AS MATERIALIZED (SELECT n.node,
         |  CAST((1000000000::BIGINT * 15) // (100 * (SELECT n FROM nn)) +
         |       (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum((p.r * e.w) // d.deg) AS BIGINT) AS s
         |    FROM pr$k p JOIN deg d ON d.src = p.node JOIN e ON e.src = p.node
         |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    s"""WITH RECURSIVE nodes AS (
       |  SELECT doc_id AS node FROM documents WHERE doc_id <= 300),
       |sh AS (
       |  SELECT doc_id AS id,
       |    CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) < 3
       |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\\s+'), ' ')]
       |      ELSE list_transform(
       |        range(len(string_split_regex(lower(trim(text)), '\\s+')) - 2),
       |        i -> array_to_string(
       |          string_split_regex(lower(trim(text)), '\\s+')[i+1:i+3], ' '))
       |    END AS sh
       |  FROM documents WHERE doc_id <= 300),
       |pairs AS MATERIALIZED (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(floor(round(len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
       |          len(list_distinct(a.sh || b.sh)), 4) * 10000) AS BIGINT) AS w
       |  FROM sh a JOIN sh b ON a.id < b.id
       |  WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
       |        len(list_distinct(a.sh || b.sh)) >= 0.02),
       |e AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst, w FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a, w FROM pairs),
       |deg AS MATERIALIZED (SELECT src, sum(w) AS deg FROM e GROUP BY 1),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |pr0 AS MATERIALIZED (SELECT node,
       |  CAST(1000000000::BIGINT // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes),
       |${(0 until iters).map(step).mkString(",\n")},
       |ids AS MATERIALIZED (
       |  SELECT DISTINCT id_a AS id FROM pairs
       |  UNION SELECT id_b FROM pairs),
       |reach(node, lab) AS (
       |  SELECT id, id FROM ids
       |  UNION
       |  SELECT s.dst, r.lab FROM reach r JOIN e s ON s.src = r.node),
       |comp AS MATERIALIZED (
       |  SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)
       |SELECT cluster_id, node AS kept_id, cluster_size FROM (
       |  SELECT c.cluster_id, c.node,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY p.r DESC, c.node) AS rn,
       |    count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
       |  FROM comp c JOIN pr$iters p ON p.node = c.node)
       |WHERE rn = 1 ORDER BY cluster_id""".stripMargin
  }

  /** [[Graph.pageRank]]'s personalized twin: the base (restart) mass is
    * CASE-gated onto the seed set and pr0 is seed-concentrated; the
    * per-edge contributions and the three-way truncating-div
    * decomposition are byte-identical to [[pageRankSql]]. */
  private val pageRankPersonalizedSql: String = {
    val iters = 15
    val step = (k: Int) =>
      s"""pr${k + 1} AS MATERIALIZED (SELECT n.node,
         |  CAST(CASE WHEN rs.node IS NOT NULL
         |        THEN (1000000000::BIGINT * 15) // (100 * (SELECT c FROM rc))
         |        ELSE 0 END +
         |       (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n
         |  LEFT JOIN rset rs ON rs.node = n.node
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(p.r // d.deg) AS BIGINT) AS s
         |    FROM pr$k p JOIN deg d ON d.src = p.node JOIN e ON e.src = p.node
         |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    s"""WITH nodes AS (SELECT doc_id AS node FROM documents WHERE doc_id <= 300),
       |e AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT node AS src, (node*node + j*31) % (SELECT max(node)+1 FROM nodes) AS dst
       |    FROM nodes, (VALUES (1),(2),(3)) AS t(j))
       |  WHERE dst IN (SELECT node FROM nodes)),
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |rset AS MATERIALIZED (SELECT node FROM nodes WHERE node % 50 = 7),
       |rc AS MATERIALIZED (SELECT count(*) AS c FROM rset),
       |pr0 AS MATERIALIZED (SELECT n.node,
       |  CAST(CASE WHEN rs.node IS NOT NULL
       |    THEN 1000000000::BIGINT // (SELECT c FROM rc) ELSE 0 END AS BIGINT) AS r
       |  FROM nodes n LEFT JOIN rset rs ON rs.node = n.node),
       |${(0 until iters).map(step).mkString(",\n")}
       |SELECT node AS doc_id, r AS rank_scaled FROM pr$iters ORDER BY doc_id""".stripMargin
  }

  /** [[Graph.kCore]]'s oracle: 12 unrolled batch-peel rounds (GraphSpec
    * pins the cascade at 7 rounds on this graph, so 12 is fixpoint plus
    * margin — extra rounds past the fixpoint are no-ops). Each round is
    * one degree aggregate over the symmetrized edges plus two
    * membership filters (GraphSpec pins the operator equal to a batch
    * peel on this graph). MATERIALIZED for the [[pageRankDanglingSql]]
    * reason: each round reads its predecessor three times. */
  private val kCoreSql: String = {
    val iters = 12
    val step = (i: Int) =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, count(*) AS c FROM (
         |    SELECT u AS node FROM e$i UNION ALL SELECT v FROM e$i) GROUP BY 1),
         |e${i + 1} AS MATERIALIZED (
         |  SELECT u, v FROM e$i
         |  WHERE u IN (SELECT node FROM d$i WHERE c >= 7)
         |    AND v IN (SELECT node FROM d$i WHERE c >= 7))""".stripMargin
    s"""WITH nodes AS (SELECT doc_id AS node FROM documents WHERE doc_id <= 300),
       |raw AS (
       |  SELECT node AS s, (node + 1) % (SELECT max(node) + 1 FROM nodes) AS d
       |  FROM nodes
       |  UNION ALL
       |  SELECT node, (node + 2) % (SELECT max(node) + 1 FROM nodes) FROM nodes
       |  UNION ALL
       |  SELECT node, (node * node + 7) % (SELECT max(node) + 1 FROM nodes)
       |  FROM nodes
       |  UNION ALL
       |  SELECT node, node + j FROM nodes, (VALUES (3),(4),(5),(6)) AS t(j)
       |  WHERE node <= 60 AND node + j <= 60),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
       |  FROM raw WHERE s <> d),
       |${(0 until iters).map(step).mkString(",\n")}
       |SELECT node AS doc_id, CAST(count(*) AS BIGINT) AS core_deg FROM (
       |  SELECT u AS node FROM e$iters UNION ALL SELECT v FROM e$iters)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** [[Graph.labelPropagation]]'s oracle: 5 unrolled synchronous vote
    * rounds — per round, labeled-neighbor counts, argmax with
    * count-desc/label-asc tie-break, then seed-pinned adoption
    * (coalesce(seed, majority, previous)). MATERIALIZED for the
    * [[pageRankDanglingSql]] reason. */
  private val labelPropSql: String = {
    val iters = 5
    val step = (i: Int) =>
      s"""c$i AS MATERIALIZED (
         |  SELECT s.v AS node, l.lab, count(*) AS c
         |  FROM l$i l JOIN sym s ON s.u = l.node
         |  WHERE l.lab IS NOT NULL GROUP BY 1, 2),
         |b$i AS MATERIALIZED (
         |  SELECT node, lab FROM (
         |    SELECT node, lab,
         |      row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
         |    FROM c$i) WHERE rn = 1),
         |l${i + 1} AS MATERIALIZED (
         |  SELECT l.node, coalesce(sd.lab, b.lab, l.lab) AS lab
         |  FROM l$i l
         |  LEFT JOIN b$i b ON b.node = l.node
         |  LEFT JOIN sd ON sd.node = l.node)""".stripMargin
    s"""WITH nodes AS (SELECT doc_id AS node FROM documents WHERE doc_id <= 300),
       |e AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT node AS src,
       |      (node * 2) % (SELECT max(node) + 1 FROM nodes) AS dst FROM nodes
       |    UNION ALL
       |    SELECT node, (node * 2 + 1) % (SELECT max(node) + 1 FROM nodes)
       |    FROM nodes)
       |  WHERE src <> dst),
       |sym AS MATERIALIZED (
       |  SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
       |sd AS MATERIALIZED (
       |  SELECT node, 'l' || CAST(node % 3 AS VARCHAR) AS lab
       |  FROM nodes WHERE node % 97 = 0),
       |l0 AS MATERIALIZED (
       |  SELECT n.node, sd.lab
       |  FROM (SELECT u AS node FROM sym UNION SELECT node FROM sd) n
       |  LEFT JOIN sd ON sd.node = n.node),
       |${(0 until iters).map(step).mkString(",\n")}
       |SELECT node AS doc_id, lab AS label FROM l$iters
       |WHERE lab IS NOT NULL ORDER BY doc_id""".stripMargin
  }

  /** [[labelPropSql]]'s weighted twin: votes sum edge weights
    * (1 + (src+dst) % 5 on the same expander), and the edge relation
    * replays [[Graph.labelPropagation]]'s weighted identity — weights
    * sum per DIRECTED pair, each undirected pair then takes the max
    * across directions. Same 5 unrolled rounds, same seed-pinned
    * adoption, argmax tie-break weight-desc/label-asc. */
  private val labelPropWeightedSql: String = {
    val iters = 5
    val step = (i: Int) =>
      s"""c$i AS MATERIALIZED (
         |  SELECT s.v AS node, l.lab, sum(s.w) AS c
         |  FROM l$i l JOIN sym s ON s.u = l.node
         |  WHERE l.lab IS NOT NULL GROUP BY 1, 2),
         |b$i AS MATERIALIZED (
         |  SELECT node, lab FROM (
         |    SELECT node, lab,
         |      row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
         |    FROM c$i) WHERE rn = 1),
         |l${i + 1} AS MATERIALIZED (
         |  SELECT l.node, coalesce(sd.lab, b.lab, l.lab) AS lab
         |  FROM l$i l
         |  LEFT JOIN b$i b ON b.node = l.node
         |  LEFT JOIN sd ON sd.node = l.node)""".stripMargin
    s"""WITH nodes AS (SELECT doc_id AS node FROM documents WHERE doc_id <= 300),
       |e AS MATERIALIZED (
       |  SELECT src, dst, 1 + (src + dst) % 5 AS w FROM (
       |    SELECT node AS src,
       |      (node * 2) % (SELECT max(node) + 1 FROM nodes) AS dst FROM nodes
       |    UNION ALL
       |    SELECT node, (node * 2 + 1) % (SELECT max(node) + 1 FROM nodes)
       |    FROM nodes)
       |  WHERE src <> dst),
       |dirw AS MATERIALIZED (
       |  SELECT src AS u, dst AS v, sum(w) AS w FROM e GROUP BY 1, 2),
       |sym AS MATERIALIZED (
       |  SELECT u, v, max(w) AS w FROM (
       |    SELECT u, v, w FROM dirw UNION ALL SELECT v, u, w FROM dirw)
       |  GROUP BY 1, 2),
       |sd AS MATERIALIZED (
       |  SELECT node, 'l' || CAST(node % 3 AS VARCHAR) AS lab
       |  FROM nodes WHERE node % 97 = 0),
       |l0 AS MATERIALIZED (
       |  SELECT n.node, sd.lab
       |  FROM (SELECT u AS node FROM sym UNION SELECT node FROM sd) n
       |  LEFT JOIN sd ON sd.node = n.node),
       |${(0 until iters).map(step).mkString(",\n")}
       |SELECT node AS doc_id, lab AS label FROM l$iters
       |WHERE lab IS NOT NULL ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE: documents with the identical synthetic URL the
    * Spark-side [[webDocs]] constructs (same residues, same strings). */
  private val webDocsSql =
    """WITH w AS (
      |  SELECT doc_id, n_chars,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' ||
      |    (CASE WHEN doc_id % 3 = 1 THEN 'www.'
      |          WHEN doc_id % 3 = 2 THEN 'news.blog.' ELSE '' END) ||
      |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.' ||
      |    (CASE WHEN doc_id % 4 = 0 THEN 'com' WHEN doc_id % 4 = 1 THEN 'co.uk'
      |          WHEN doc_id % 4 = 2 THEN 'org' ELSE 'ac.jp' END) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END) ||
      |    '/p/' || CAST(doc_id AS VARCHAR) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '?q=' || CAST(doc_id % 10 AS VARCHAR)
      |          ELSE '' END) AS url
      |  FROM documents)""".stripMargin

  /** One BPE merge round as DuckDB CTEs (the [[graft.operators.Vocab]]
    * semantics): weighted adjacent-pair counts, argmax with
    * count-desc/pair-asc tie-break, then the greedy left-to-right
    * non-overlapping application — "within each run of consecutive
    * matches, even offsets merge" — via gaps-and-islands windows over
    * the exploded symbol lists. */
  private def bpeRoundCte(i: Int): String =
    s"""
       |p$i AS (
       |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(syms[1:len(syms)-1]) AS l,
       |           unnest(syms[2:len(syms)]) AS r, freq FROM v$i)
       |  GROUP BY 1, 2),
       |m$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
       |e$i AS (
       |  SELECT syms AS sid, freq, unnest(syms) AS sym,
       |    generate_subscripts(syms, 1) AS ord FROM v$i),
       |g$i AS (
       |  SELECT *, COALESCE(sym = (SELECT l FROM m$i) AND
       |    lead(sym) OVER (PARTITION BY sid ORDER BY ord) = (SELECT r FROM m$i),
       |    FALSE) AS mt
       |  FROM e$i),
       |h$i AS (
       |  SELECT *, ord - ROW_NUMBER() OVER (PARTITION BY sid, mt ORDER BY ord) AS run
       |  FROM g$i),
       |x$i AS (
       |  SELECT *, mt AND
       |    (ROW_NUMBER() OVER (PARTITION BY sid, mt, run ORDER BY ord) - 1) % 2 = 0 AS mrg
       |  FROM h$i),
       |y$i AS (
       |  SELECT *, COALESCE(lag(mrg) OVER (PARTITION BY sid ORDER BY ord), FALSE) AS consumed,
       |    lead(sym) OVER (PARTITION BY sid ORDER BY ord) AS nxt
       |  FROM x$i),
       |v${i + 1} AS (
       |  SELECT list(CASE WHEN mrg THEN sym || nxt ELSE sym END ORDER BY ord)
       |      FILTER (WHERE NOT consumed) AS syms,
       |    any_value(freq) AS freq
       |  FROM y$i GROUP BY sid)""".stripMargin

  /** DuckDB twin of [[graft.functions.UrlFunctions.registeredDomain]]
    * over an already-extracted host column. */
  private def regDomSql(hostCol: String): String =
    s"CASE WHEN len(string_split($hostCol, '.')) >= 3 AND " +
      s"string_split($hostCol, '.')[-2] IN ('co','ac','com','org','net','gov','edu') " +
      s"THEN array_to_string(string_split($hostCol, '.')[-3:], '.') " +
      s"ELSE array_to_string(string_split($hostCol, '.')[-2:], '.') END"

  /** BM25 oracle: the Lucene-style formula over exact integer tf/df/dl/N
    * with the fixed-order per-term sum. Shared verbatim by the full-scan
    * (`text_bm25_oracled`) and stored-index (`text_bm25_indexed`) paths —
    * the index only changes WHERE the statistics live, never their
    * values. */
  private val bm25OracleSql =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
      |stats AS (
      |  SELECT count(*) AS tot, (SELECT count(*) FROM documents) AS n FROM tok2),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok2
      |  WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |w AS (
      |  SELECT tf.doc_id, tf.term,
      |    ln((CAST(s.n AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
      |    (CAST(tf.tf AS DOUBLE) /
      |      (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 *
      |        (CAST(dl.dl AS DOUBLE) / (CAST(s.tot AS DOUBLE) / s.n))))) AS w
      |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s)
      |SELECT doc_id,
      |  round(coalesce(max(CASE WHEN term = 'spark' THEN w END), 0.0)
      |      + coalesce(max(CASE WHEN term = 'join' THEN w END), 0.0)
      |      + coalesce(max(CASE WHEN term = 'window' THEN w END), 0.0), 4) AS bm25
      |FROM w GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  /** Shared CTE body: documents with the identical synthetic PII the
    * Spark-side [[piiDocs]] injects (same strings, same doc_id gates). */
  // NOTE: interpolated into outer `.stripMargin` templates — no line here
  // may begin with whitespace+`|` (the outer stripMargin would eat the
  // leading `||` concat operator), so `||` sits at line ends.
  private val piiDocsSql =
    """SELECT doc_id,
      |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ||
      |  CASE WHEN doc_id % 2 = 0 THEN ' from 10.' ||
      |    CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
      |    CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
      |  CASE WHEN doc_id % 3 = 0 THEN ' tel 555-' ||
      |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0142' ELSE '' END ||
      |  CASE WHEN doc_id % 5 = 0 THEN ' ssn 078-05-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS text
      |  FROM documents""".stripMargin

  /** Closed-form portable hyperplane bucket bits over an `embedding`
    * column — DuckDB spelling of
    * [[graft.functions.VectorFunctions.portableBucketBits]]: quantize with
    * floor(x·1000), integer dot against md5-derived components in [-4,4],
    * bit = sign. Exact integer arithmetic on both engines. `ns` selects an
    * independent plane table (matches `portablePlanes(…, ns)`). */
  private def duckBucketBitsNsRange(ns: String, rangeExpr: String): String =
    s"""array_to_string(list_transform(range($rangeExpr), p ->
      |    CASE WHEN list_sum(list_transform(range(1, len(embedding)+1), i ->
      |      CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
      |      (CAST(('0x' || substr(md5('$ns' || p::VARCHAR || ':' || (i-1)::VARCHAR), 1, 8)) AS BIGINT) % 9 - 4)
      |    )) > 0 THEN '1' ELSE '0' END), '')""".stripMargin

  private def duckBucketBitsNs(ns: String): String =
    duckBucketBitsNsRange(ns, "8")

  /** Fixed 8-plane bucket bits: the stored-index paths (the index is
    * built with a declared plane count) and the media near-dups (the
    * tiered collapse bounds representatives far below the 16384-row
    * adaptive floor, so the production adaptive sizing provably resolves
    * to 8 planes on those fixtures at every scale factor). */
  private val duckBucketBits: String = duckBucketBitsNs("")

  /** CTE prelude deriving the occupancy-adaptive plane count from
    * count(*) over `table` — the identical integer arithmetic as
    * [[graft.operators.Dedup.adaptiveNumPlanes]] (target occupancy 64,
    * planes in [8, 24]; smallest p with n ≤ 64·2^p): the plane count is
    * a pure function of the corpus count, so both engines derive the
    * same value independently. Pair with [[duckBucketBitsAdaptive]]. */
  private def duckNpCte(table: String): String =
    s"""__cnt AS (SELECT count(*) AS c FROM $table),
       |__np AS (SELECT 8 + len(list_filter(range(9, 25),
       |    p -> c > 64 * (1::BIGINT << (p - 1)))) AS n FROM __cnt)""".stripMargin

  /** Occupancy-adaptive bucket bits — requires [[duckNpCte]] in the
    * query's WITH list. */
  private val duckBucketBitsAdaptive: String =
    duckBucketBitsNsRange("", "(SELECT n FROM __np)")

  /** Closed-form cosine between two embedding list columns (DuckDB). */
  private def duckCos(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a)+1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  /** Full-corpus portable IVF probe replay — shared by the plain
    * oracled probe and the append-equals-rebuild check. */
  private val knnIvfOracleSql: String =
          s"""WITH d AS (
        |  SELECT vec_id, embedding, list_transform(range(8), j ->
        |    list_sum(list_transform(
        |      list_transform(range(1, len(embedding)+1), i ->
        |        CAST(embedding[i] AS DOUBLE) -
        |        (CAST(('0x' || substr(md5('ivf:' || j::VARCHAR || ':' || (i-1)::VARCHAR), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0),
        |      x -> x * x))) AS dl
        |  FROM embeddings),
        |assigned AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_position(dl, list_min(dl)) - 1 AS INTEGER) AS cell
        |  FROM d),
        |qd AS (SELECT dl, embedding FROM d WHERE vec_id = 0),
        |probe AS (
        |  SELECT cell FROM (
        |    SELECT unnest(range(8)) AS cell, unnest(dl) AS dist FROM qd) t
        |  ORDER BY dist, cell LIMIT 3)
        |SELECT a.vec_id,
        |  round(${duckCos("a.embedding", "q.embedding")}, 4) AS cos
        |FROM assigned a, qd q
        |WHERE a.cell IN (SELECT cell FROM probe)
        |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin

  /** Solid-color descriptor closed form — shared by the BMP and PNG
    * corpus queries (format independence is the claim). */
  private def mediaSolidEmbeddingSql(where: String = ""): String =
    s"""WITH c AS (
        |  SELECT doc_id,
        |    doc_id % 256 AS r, (doc_id * 7) % 256 AS g,
        |    (doc_id * 13) % 256 AS b
        |  FROM documents $where),
        |dims AS (
        |  SELECT doc_id, r, g, b, CAST(p AS BIGINT) AS pos
        |  FROM c, unnest(range(64)) AS t(p))
        |SELECT doc_id AS media_id, pos,
        |  CASE
        |    WHEN pos < 48 AND pos % 3 = 0
        |      THEN round(CAST(CAST(CAST(r AS DOUBLE) / 255.0 AS REAL) AS DOUBLE), 4)
        |    WHEN pos < 48 AND pos % 3 = 1
        |      THEN round(CAST(CAST(CAST(g AS DOUBLE) / 255.0 AS REAL) AS DOUBLE), 4)
        |    WHEN pos < 48
        |      THEN round(CAST(CAST(CAST(b AS DOUBLE) / 255.0 AS REAL) AS DOUBLE), 4)
        |    WHEN pos = 48
        |      THEN round(CAST(CAST((299.0 * r + 587.0 * g + 114.0 * b) / 255000.0 AS REAL) AS DOUBLE), 4)
        |    ELSE 0.0
        |  END AS val
        |FROM dims ORDER BY media_id, pos""".stripMargin

  /** Bigram-backoff surprisal replay — shared by the inline and the
    * stored-model rows (the stored path must reproduce it exactly). */
  private val oracleSqlSurprisal: String =
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS cur,
        |    CASE WHEN i > 1 THEN t[i-1] END AS prev
        |  FROM toks, unnest(range(1, len(t)+1)) AS u(i)),
        |model AS (SELECT * FROM pos WHERE doc_id % 2 = 0),
        |uni AS (
        |  SELECT cur AS tok, CAST(count(*) AS BIGINT) AS c
        |  FROM model GROUP BY 1),
        |bi AS (
        |  SELECT prev, cur, CAST(count(*) AS BIGINT) AS c
        |  FROM model WHERE prev IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM model),
        |scored AS (
        |  SELECT p.doc_id,
        |    CASE
        |      WHEN b.c IS NOT NULL
        |        THEN length(format('{:b}', up.c // b.c)) - 1
        |      WHEN u.c IS NOT NULL AND p.pos > 1
        |        THEN 4 + length(format('{:b}', t.n // u.c)) - 1
        |      WHEN u.c IS NOT NULL
        |        THEN length(format('{:b}', t.n // u.c)) - 1
        |      ELSE 8 + length(format('{:b}', t.n)) - 1
        |    END AS bits
        |  FROM pos p
        |  CROSS JOIN tot t
        |  LEFT JOIN uni u ON u.tok = p.cur
        |  LEFT JOIN uni up ON up.tok = p.prev
        |  LEFT JOIN bi b ON b.prev = p.prev AND b.cur = p.cur)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(bits) AS BIGINT) AS total_bits,
        |  round(sum(bits) * 1.0 / count(*), 4) AS bits_per_token
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = baseOracleSql ++ Map(
    // append ≡ rebuild equivalences: the appended index must answer
    // probes identically to the full build, so each append row reuses
    // its full-build twin's oracle verbatim
    "search_phrase_append" -> baseOracleSql("search_phrase_oracled"),
    "knn_pq_append_oracled" -> baseOracleSql("knn_pq_indexed_oracled"),
    // stored-baseline drift is the same metric through a pure storage
    // round trip — the inline oracle verbatim
    "monitor_drift_embedding_stored" -> baseOracleSql("monitor_drift_embedding"),
    // the streamed feed must land on the identical histogram (exactly-
    // once accumulation across restarts), so the inline oracle
    // hash-checks it verbatim too
    "stream_drift_embedding_oracled" -> baseOracleSql("monitor_drift_embedding"),
    // the stream-maintained OHLC must equal the from-scratch batch
    // rollup — the batch oracle verbatim (one hash: exactly-once AND
    // partial-merge ≡ recompute)
    "stream_ohlc_oracled" -> baseOracleSql("event_resample_ohlc"))

  private def baseOracleSql: Map[String, String] = Map(

    // the ok CTE mirrors the Spark side's candidatePairs hot-bucket guard
    // (drop buckets with 1 or >10000 members) so the two engines compute
    // the same pair set even on a corpus with a degenerate mega bucket
    "lsh_bucket_candidates" ->
      s"""WITH ${duckNpCte("embeddings")},
        |bk AS (
        |  SELECT vec_id AS id, $duckBucketBitsAdaptive AS bucket FROM embeddings),
        |ok AS (
        |  SELECT bucket FROM bk GROUP BY bucket
        |  HAVING count(*) > 1 AND count(*) <= 10000)
        |SELECT a.id AS id_a, b.id AS id_b
        |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id < b.id
        |WHERE a.bucket IN (SELECT bucket FROM ok)
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_embedding_oracled" ->
      s"""WITH ${duckNpCte("embeddings")},
        |bk AS (
        |  SELECT vec_id AS id, embedding, $duckBucketBitsAdaptive AS bucket FROM embeddings),
        |ok AS (
        |  SELECT bucket FROM bk GROUP BY bucket
        |  HAVING count(*) > 1 AND count(*) <= 10000),
        |cand AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.embedding AS va, b.embedding AS vb
        |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id < b.id
        |  WHERE a.bucket IN (SELECT bucket FROM ok)),
        |dup AS (
        |  SELECT DISTINCT id_b FROM cand
        |  WHERE ${duckCos("va", "vb")} >= 0.4)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (SELECT id_b FROM dup)
        |ORDER BY vec_id""".stripMargin,

    "knn_lsh_indexed_oracled" ->
      s"""WITH bk AS (
        |  SELECT vec_id, embedding, $duckBucketBits AS bucket FROM embeddings),
        |q AS (
        |  SELECT embedding, $duckBucketBits AS qb FROM embeddings WHERE vec_id = 0)
        |SELECT bk.vec_id,
        |  round(${duckCos("bk.embedding", "q.embedding")}, 4) AS cos
        |FROM bk, q
        |WHERE len(list_filter(range(1, 9),
        |  i -> substr(bk.bucket, i, 1) <> substr(q.qb, i, 1))) <= 2
        |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,

    "knn_lsh_oracled" ->
      s"""WITH bk AS (
        |  SELECT vec_id, embedding,
        |    ${duckBucketBitsNs("t0:")} AS b0,
        |    ${duckBucketBitsNs("t1:")} AS b1
        |  FROM embeddings),
        |q AS (SELECT b0 AS q0, b1 AS q1, embedding FROM bk WHERE vec_id = 0)
        |SELECT bk.vec_id,
        |  round(${duckCos("bk.embedding", "q.embedding")}, 4) AS cos
        |FROM bk, q
        |WHERE len(list_filter(range(1, 9),
        |        i -> substr(bk.b0, i, 1) <> substr(q.q0, i, 1))) <= 2
        |   OR len(list_filter(range(1, 9),
        |        i -> substr(bk.b1, i, 1) <> substr(q.q1, i, 1))) <= 2
        |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,

    "knn_join_oracled" ->
      s"""WITH bk AS (
        |  SELECT vec_id, embedding,
        |    ${duckBucketBitsNs("t0:")} AS b0,
        |    ${duckBucketBitsNs("t1:")} AS b1
        |  FROM embeddings),
        |lk AS (
        |  SELECT vec_id AS id_l, unnest(['0:' || b0, '1:' || b1]) AS key
        |  FROM bk WHERE vec_id < 50),
        |rk AS (
        |  SELECT vec_id AS id_r, unnest(['0:' || b0, '1:' || b1]) AS key
        |  FROM bk),
        |cand AS (
        |  SELECT DISTINCT id_l, id_r
        |  FROM lk JOIN rk USING (key) WHERE id_l <> id_r),
        |scored AS (
        |  SELECT id_l, id_r,
        |    round(${duckCos("a.embedding", "b.embedding")}, 4) AS cos
        |  FROM cand
        |  JOIN embeddings a ON a.vec_id = id_l
        |  JOIN embeddings b ON b.vec_id = id_r),
        |ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY id_l ORDER BY cos DESC, id_r) AS rank
        |  FROM scored)
        |SELECT id_l, id_r, cos, rank FROM ranked WHERE rank <= 5
        |ORDER BY id_l, rank""".stripMargin,

    // cell assignment = the ivf_assign_oracled closed form; the ok CTE
    // mirrors candidatePairs' hot-cell guard; verify + anti-join are the
    // dedup_embedding_oracled recipe with cells instead of LSH buckets
    "dedup_semantic_oracled" ->
      s"""WITH d AS (
        |  SELECT vec_id AS id, embedding, list_transform(range(8), j ->
        |    list_sum(list_transform(
        |      list_transform(range(1, len(embedding)+1), i ->
        |        CAST(embedding[i] AS DOUBLE) -
        |        (CAST(('0x' || substr(md5('ivf:' || j::VARCHAR || ':' || (i-1)::VARCHAR), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0),
        |      x -> x * x))) AS dl
        |  FROM embeddings),
        |bk AS (
        |  SELECT id, embedding,
        |    CAST(list_position(dl, list_min(dl)) - 1 AS INTEGER) AS cell
        |  FROM d),
        |ok AS (
        |  SELECT cell FROM bk GROUP BY cell
        |  HAVING count(*) > 1 AND count(*) <= 10000),
        |cand AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.embedding AS va, b.embedding AS vb
        |  FROM bk a JOIN bk b ON a.cell = b.cell AND a.id < b.id
        |  WHERE a.cell IN (SELECT cell FROM ok)),
        |dup AS (
        |  SELECT DISTINCT id_b FROM cand
        |  WHERE ${duckCos("va", "vb")} >= 0.4)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (SELECT id_b FROM dup)
        |ORDER BY vec_id""".stripMargin,

    "ivf_assign_oracled" ->
      """WITH d AS (
        |  SELECT vec_id, list_transform(range(8), j ->
        |    list_sum(list_transform(
        |      list_transform(range(1, len(embedding)+1), i ->
        |        CAST(embedding[i] AS DOUBLE) -
        |        (CAST(('0x' || substr(md5('ivf:' || j::VARCHAR || ':' || (i-1)::VARCHAR), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0),
        |      x -> x * x))) AS dl
        |  FROM embeddings)
        |SELECT vec_id, CAST(list_position(dl, list_min(dl)) - 1 AS INTEGER) AS cell
        |FROM d ORDER BY vec_id""".stripMargin,

    // PQ: per-vector per-subspace distance lists to the 16 fixed
    // centroids (md5 'pq:' namespace), codes = per-subspace argmin (ties
    // → lowest j, the NearestCenter rule), ADC = the QUERY's distance
    // table looked up at each vector's codes
    "knn_pq_oracled" ->
      """WITH enc AS (
        |  SELECT vec_id, list_transform(range(8), s ->
        |    list_transform(range(16), j ->
        |      list_sum(list_transform(
        |        list_transform(range(8), i ->
        |          CAST(embedding[s*8 + i + 1] AS DOUBLE) -
        |          (CAST(('0x' || substr(md5('pq:' || s::VARCHAR || ':' || j::VARCHAR || ':' || i::VARCHAR), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0),
        |        x -> x * x)))) AS dls
        |  FROM embeddings),
        |codes AS (
        |  SELECT vec_id,
        |    list_transform(dls, dl -> list_position(dl, list_min(dl)) - 1) AS codes
        |  FROM enc),
        |qtab AS (SELECT dls FROM enc WHERE vec_id = 0)
        |SELECT c.vec_id,
        |  round(list_sum(list_transform(range(8), s ->
        |    q.dls[s+1][c.codes[s+1]+1])), 4) AS adc
        |FROM codes c CROSS JOIN qtab q
        |ORDER BY adc, vec_id LIMIT 20""".stripMargin,

    // the stored-codes probe must be a pure round trip of the in-memory
    // encode+ADC pipeline, so its oracle is knn_pq_oracled's, verbatim
    "knn_pq_indexed_oracled" ->
      """WITH enc AS (
        |  SELECT vec_id, list_transform(range(8), s ->
        |    list_transform(range(16), j ->
        |      list_sum(list_transform(
        |        list_transform(range(8), i ->
        |          CAST(embedding[s*8 + i + 1] AS DOUBLE) -
        |          (CAST(('0x' || substr(md5('pq:' || s::VARCHAR || ':' || j::VARCHAR || ':' || i::VARCHAR), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0),
        |        x -> x * x)))) AS dls
        |  FROM embeddings),
        |codes AS (
        |  SELECT vec_id,
        |    list_transform(dls, dl -> list_position(dl, list_min(dl)) - 1) AS codes
        |  FROM enc),
        |qtab AS (SELECT dls FROM enc WHERE vec_id = 0)
        |SELECT c.vec_id,
        |  round(list_sum(list_transform(range(8), s ->
        |    q.dls[s+1][c.codes[s+1]+1])), 4) AS adc
        |FROM codes c CROSS JOIN qtab q
        |ORDER BY adc, vec_id LIMIT 20""".stripMargin,

    // IVF-PQ: coarse assignment (the knn_ivf_oracled closed form under
    // the data-scaled 'ivfq:' namespace, +-0.25), residual = embedding -
    // own-cell centroid, codes = per-subspace argmin over 'pqr:'
    // (+-0.125) residual codebooks; the query's 3
    // probe cells come from ITS coarse distance list, each probed cell
    // gets its own query-residual distance table, and a row's ADC looks
    // its codes up in ITS cell's table
    "knn_ivfpq_oracled" ->
      """WITH d AS (
        |  SELECT vec_id, embedding, list_transform(range(8), j ->
        |    list_sum(list_transform(
        |      list_transform(range(1, len(embedding)+1), i ->
        |        CAST(embedding[i] AS DOUBLE) -
        |        (CAST(('0x' || substr(md5('ivfq:' || j::VARCHAR || ':' || (i-1)::VARCHAR), 1, 8)) AS BIGINT) % 501 - 250) / 1000.0),
        |      x -> x * x))) AS dl
        |  FROM embeddings),
        |assigned AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_position(dl, list_min(dl)) - 1 AS INTEGER) AS cell
        |  FROM d),
        |res AS (
        |  SELECT vec_id, cell,
        |    list_transform(range(1, len(embedding)+1), i ->
        |      CAST(embedding[i] AS DOUBLE) -
        |      (CAST(('0x' || substr(md5('ivfq:' || cell::VARCHAR || ':' || (i-1)::VARCHAR), 1, 8)) AS BIGINT) % 501 - 250) / 1000.0) AS r
        |  FROM assigned),
        |sub AS (
        |  SELECT vec_id, cell, list_transform(range(8), s ->
        |    list_transform(range(16), j ->
        |      list_sum(list_transform(
        |        list_transform(range(8), i ->
        |          r[s*8 + i + 1] -
        |          (CAST(('0x' || substr(md5('pqr:' || s::VARCHAR || ':' || j::VARCHAR || ':' || i::VARCHAR), 1, 8)) AS BIGINT) % 251 - 125) / 1000.0),
        |        x -> x * x)))) AS dlss
        |  FROM res),
        |codes AS (
        |  SELECT vec_id, cell,
        |    list_transform(dlss, dl -> list_position(dl, list_min(dl)) - 1) AS codes
        |  FROM sub),
        |qd AS (SELECT dl FROM d WHERE vec_id = 0),
        |probe AS (
        |  SELECT cell FROM (
        |    SELECT unnest(range(8)) AS cell, unnest(dl) AS dist FROM qd) t
        |  ORDER BY dist, cell LIMIT 3),
        |qres AS (
        |  SELECT CAST(p.cell AS INTEGER) AS cell,
        |    list_transform(range(1, len(e.embedding)+1), i ->
        |      CAST(e.embedding[i] AS DOUBLE) -
        |      (CAST(('0x' || substr(md5('ivfq:' || p.cell::VARCHAR || ':' || (i-1)::VARCHAR), 1, 8)) AS BIGINT) % 501 - 250) / 1000.0) AS qr
        |  FROM probe p, (SELECT embedding FROM embeddings WHERE vec_id = 0) e),
        |qtab AS (
        |  SELECT cell, list_transform(range(8), s ->
        |    list_transform(range(16), j ->
        |      list_sum(list_transform(
        |        list_transform(range(8), i ->
        |          qr[s*8 + i + 1] -
        |          (CAST(('0x' || substr(md5('pqr:' || s::VARCHAR || ':' || j::VARCHAR || ':' || i::VARCHAR), 1, 8)) AS BIGINT) % 251 - 125) / 1000.0),
        |        x -> x * x)))) AS tab
        |  FROM qres)
        |SELECT c.vec_id,
        |  round(list_sum(list_transform(range(8), s ->
        |    q.tab[s+1][c.codes[s+1]+1])), 4) AS adc
        |FROM codes c JOIN qtab q ON c.cell = q.cell
        |ORDER BY adc, vec_id LIMIT 20""".stripMargin,

    "knn_mmr_rerank" -> mmrSql,

    // full IVF query path: per-row distance list to the 8 fixed centroids
    // (same closed form as ivf_assign_oracled), assignment = argmin, the
    // query's 3 probe cells = the 3 smallest entries of ITS distance list
    // (ties → lowest cell), then rounded-cosine top-20 over the probed
    // cells — the whole ANN pipeline in one closed-form statement
    "knn_ivf_oracled" -> knnIvfOracleSql,

    // append must equal a rebuild: same full-corpus probe replay
    "knn_ivf_append_oracled" -> knnIvfOracleSql,

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q02_filter_project" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""".stripMargin,

    "q03_top_customers" ->
      """SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q04_sort_limit" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q05_union" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
        |FROM (
        |  SELECT * FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 100000
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderpriority = '1-URGENT' AND o_totalprice < 50000
        |) ORDER BY o_orderkey, o_totalprice""".stripMargin,

    "q06_disjunctive_filter" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  round(sum(l_extendedprice), 2) AS sum_base
        |FROM lineitem WHERE l_returnflag <> 'N' OR l_tax > 0.05
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q10_revenue_by_nation" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // batch recompute of the streamed windowed counts: 1-minute tumbling
    // windows align with date_trunc('minute') because both engines bucket
    // wall-clock UTC; a lost or double-counted row in any restart cycle
    // breaks the hash
    "stream_replay_oracled" ->
      """SELECT epoch_us(date_trunc('minute', ts)) AS window_start_us,
        |  event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type""".stripMargin,

    "q07_event_gaps" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS gap_us
        |FROM events ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q08_latest_event" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // the exact twin of the KLL perf default (q13_percentiles itself is
    // rows-only: a sketch quantile is ±1.65% rank, not a hashable value)
    "q13_percentiles_oracled" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q14_percentiles_sorted" ->
      """SELECT l_linestatus,
        |  round(quantile_cont(l_discount, 0.25), 4) AS p25,
        |  round(quantile_cont(l_discount, 0.5), 4) AS p50,
        |  round(quantile_cont(l_discount, 0.95), 4) AS p95
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  round(avg(o_totalprice), 2) AS avg_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q16_distinct_counts" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_suppliers,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // the exact columns are recomputed; the two sketch-contract booleans
    // are PREDICTED TRUE — a sketch whose merged estimate diverges from
    // the direct one, or misses the 5% bound, turns the hash red
    "sketch_distinct_merged" ->
      """SELECT event_type,
        |  count(DISTINCT CAST(ts AS DATE)) AS n_days,
        |  count(DISTINCT user_id) AS n_exact,
        |  TRUE AS merged_eq_direct,
        |  TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "incremental_agg_distinct" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_exact,
        |  TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "monitor_drift_categorical" ->
      """WITH ev AS (
        |  SELECT 'seg' || CAST(user_id % 4 AS VARCHAR) AS segment,
        |    CAST(ts AS DATE) AS day, event_type AS bin
        |  FROM events WHERE event_type IS NOT NULL),
        |b AS (SELECT min(day) AS mn, max(day) AS mx FROM ev),
        |w AS (
        |  SELECT segment, bin,
        |    day <= mn + CAST(date_diff('day', mn, mx) // 2 AS INTEGER) AS base
        |  FROM ev, b),
        |c AS (
        |  SELECT segment, bin,
        |    sum(CASE WHEN base THEN 1 ELSE 0 END) AS cb,
        |    sum(CASE WHEN base THEN 0 ELSE 1 END) AS cc
        |  FROM w GROUP BY 1, 2),
        |c2 AS (
        |  SELECT *,
        |    sum(cb) OVER (PARTITION BY segment) AS nb,
        |    sum(cc) OVER (PARTITION BY segment) AS nc
        |  FROM c)
        |SELECT segment,
        |  CAST(max(nb) AS BIGINT) AS n_base,
        |  CAST(max(nc) AS BIGINT) AS n_cur,
        |  round(CAST(sum(abs(cb * nc - cc * nb)) AS DOUBLE) /
        |    (CAST(max(nb) AS DOUBLE) * CAST(max(nc) AS DOUBLE) * 2.0), 4) AS tvd
        |FROM c2 GROUP BY segment ORDER BY segment""".stripMargin,

    // the vector-space drift replay: 'drift:'-namespace bucket bits
    // (the same closed-form integer algebra as every portable-plane
    // oracle) over the even/odd slices, full-outer zero-filled
    // histogram join, identical exact-integer TVD tail
    "monitor_drift_embedding" ->
      s"""WITH hb AS (
        |  SELECT ${duckBucketBitsNs("drift:")} AS bin, count(*) AS cb
        |  FROM embeddings WHERE vec_id % 2 = 0 AND embedding IS NOT NULL GROUP BY 1),
        |hc AS (
        |  SELECT ${duckBucketBitsNs("drift:")} AS bin, count(*) AS cc
        |  FROM embeddings WHERE vec_id % 2 = 1 AND embedding IS NOT NULL GROUP BY 1),
        |j AS (
        |  SELECT coalesce(cb, 0) AS cb, coalesce(cc, 0) AS cc
        |  FROM hb FULL OUTER JOIN hc USING (bin)),
        |j2 AS (
        |  SELECT cb, cc, sum(cb) OVER () AS nb, sum(cc) OVER () AS nc
        |  FROM j)
        |SELECT CAST(max(nb) AS BIGINT) AS n_base,
        |  CAST(max(nc) AS BIGINT) AS n_cur,
        |  round(CAST(sum(abs(cb * nc - cc * nb)) AS DOUBLE) /
        |    (CAST(max(nb) AS DOUBLE) * CAST(max(nc) AS DOUBLE) * 2.0), 4) AS tvd
        |FROM j2""".stripMargin,

    // the per-bucket drilldown: same histograms, same exact-integer
    // numerator per bin; rank order is engine-independent because the
    // numerator is exact and ties break on the bit-string bin
    "monitor_drift_embedding_buckets" ->
      s"""WITH hb AS (
        |  SELECT ${duckBucketBitsNs("drift:")} AS bin, count(*) AS cb
        |  FROM embeddings WHERE vec_id % 2 = 0 AND embedding IS NOT NULL GROUP BY 1),
        |hc AS (
        |  SELECT ${duckBucketBitsNs("drift:")} AS bin, count(*) AS cc
        |  FROM embeddings WHERE vec_id % 2 = 1 AND embedding IS NOT NULL GROUP BY 1),
        |j AS (
        |  SELECT bin, coalesce(cb, 0) AS cnt_base, coalesce(cc, 0) AS cnt_cur
        |  FROM hb FULL OUTER JOIN hc USING (bin)),
        |j2 AS (
        |  SELECT bin, cnt_base, cnt_cur,
        |    sum(cnt_base) OVER () AS nb, sum(cnt_cur) OVER () AS nc
        |  FROM j),
        |j3 AS (
        |  SELECT bin, cnt_base, cnt_cur, nb, nc,
        |    abs(cnt_base * nc - cnt_cur * nb) AS num,
        |    row_number() OVER (
        |      ORDER BY abs(cnt_base * nc - cnt_cur * nb) DESC, bin) AS rank
        |  FROM j2)
        |SELECT CAST(rank AS BIGINT) AS rank, bin,
        |  CAST(cnt_base AS BIGINT) AS cnt_base,
        |  CAST(cnt_cur AS BIGINT) AS cnt_cur,
        |  CASE WHEN nb > 0 AND nc > 0 THEN
        |    round(CAST(num AS DOUBLE) /
        |      (CAST(nb AS DOUBLE) * CAST(nc AS DOUBLE) * 2.0), 4) END AS contrib
        |FROM j3 WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "quality_outliers" ->
      """WITH v AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |f AS (
        |  SELECT event_type,
        |    round(quantile_cont(value, 0.25), 4) AS q1,
        |    round(quantile_cont(value, 0.75), 4) AS q3
        |  FROM v GROUP BY event_type),
        |f2 AS (
        |  SELECT event_type,
        |    CAST(CAST(q1 AS DECIMAL(22,4)) AS DOUBLE) AS q1,
        |    CAST(CAST(q3 AS DECIMAL(22,4)) AS DOUBLE) AS q3,
        |    CAST(CAST(q1 AS DECIMAL(22,4)) * 2.5
        |       - CAST(q3 AS DECIMAL(22,4)) * 1.5 AS DOUBLE) AS lo,
        |    CAST(CAST(q3 AS DECIMAL(22,4)) * 2.5
        |       - CAST(q1 AS DECIMAL(22,4)) * 1.5 AS DOUBLE) AS hi
        |  FROM f)
        |SELECT v.event_type, f2.q1, f2.q3, f2.lo, f2.hi,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN v.value < f2.lo OR v.value > f2.hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS outliers
        |FROM v JOIN f2 USING (event_type)
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY event_type""".stripMargin,

    "stream_topk_oracled" ->
      """WITH it AS (
        |  SELECT 'u' || CAST(user_id AS VARCHAR) AS item FROM events),
        |cnt AS (
        |  SELECT item, count(*) AS exact_cnt FROM it GROUP BY item)
        |SELECT item, exact_cnt,
        |  TRUE AS nfn, TRUE AS bracket, TRUE AS n_exactly_once
        |FROM cnt ORDER BY exact_cnt DESC, item LIMIT 10""".stripMargin,

    "sketch_topk_merged" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |cnt AS (
        |  SELECT term, count(*) AS exact_cnt FROM tok
        |  WHERE term <> '' GROUP BY term)
        |SELECT term, exact_cnt,
        |  TRUE AS nfn_big, TRUE AS bracket_big,
        |  TRUE AS nfn_small, TRUE AS bracket_small
        |FROM cnt ORDER BY exact_cnt DESC, term LIMIT 10""".stripMargin,

    "sketch_quantiles_merged" ->
      """SELECT event_type,
        |  count(DISTINCT CAST(ts AS DATE)) AS n_days,
        |  count(value) AS n_rows,
        |  round(quantile_cont(value, 0.5), 4) AS exact_p50,
        |  TRUE AS ok_p25, TRUE AS ok_p50, TRUE AS ok_p75
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q17_pivot" ->
      """SELECT o_orderpriority,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS total_f,
        |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS total_o,
        |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS total_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q11_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q25_full_outer" ->
      """WITH c AS (
        |  SELECT c_nationkey AS nk, count(*) AS n_rich
        |  FROM customer WHERE c_acctbal > 9800 GROUP BY 1),
        |o AS (
        |  SELECT c_nationkey AS nk2, count(*) AS n_big_orders
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_totalprice > 495000 GROUP BY 1)
        |SELECT coalesce(nk, nk2) AS nationkey, n_rich, n_big_orders
        |FROM c FULL OUTER JOIN o ON nk = nk2
        |ORDER BY nationkey""".stripMargin,

    "q26_sql_exists" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal > 9500
        |  AND EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,

    "corpus_datacard" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(grouping(source) AS INTEGER) AS g_source,
        |  CAST(grouping(lang) AS INTEGER) AS g_lang
        |FROM documents
        |GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
        |ORDER BY g_source, g_lang, source NULLS FIRST, lang NULLS FIRST""".stripMargin,

    "q21_range_frame" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) OVER
        |    (PARTITION BY user_id ORDER BY epoch_us(ts)
        |     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS hour_sum_mils
        |FROM events ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q22_unpivot" ->
      """WITH agg AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
        |    count(*) AS cnt
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, val FROM agg
        |UNPIVOT (val FOR metric IN (qty, cnt))
        |ORDER BY l_returnflag, metric""".stripMargin,

    "q18_setops" ->
      """WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |u AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |SELECT o_custkey, 'both' AS which FROM
        |  (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM u)
        |UNION ALL
        |SELECT o_custkey, 'f_only' AS which FROM
        |  (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM u)
        |ORDER BY which, o_custkey""".stripMargin,

    "q19_moving_agg" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) OVER
        |    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov_sum_mils,
        |  count(*) OVER
        |    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mov_n
        |FROM events ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q20_conditional_agg" ->
      """SELECT l_linestatus,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS n_highdisc,
        |  count(*) FILTER (WHERE l_tax > 0.04) AS n_hightax,
        |  CAST(sum(CASE WHEN l_returnflag = 'R'
        |    THEN CAST(floor(l_quantity) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS qty_returned,
        |  max(CASE WHEN l_discount = 0 THEN l_orderkey END) AS max_nodisc_order
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q12_semi_anti" ->
      """SELECT c_custkey, 'HAS_URGENT' AS status FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |UNION ALL
        |SELECT c_custkey, 'NO_ORDERS' FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey, status""".stripMargin,

    // OHLC replay: exact-FLOOR-division daily buckets (the same
    // pmod decomposition as the Spark side — `//` truncates toward
    // zero in both engines, so the floor form must be spelled out),
    // open/close via (ts, id)-ordered row_number endpoints, rounding
    // applied after the aggregate exactly as the Spark side does
    "event_resample_ohlc" ->
      """WITH e AS (
        |  SELECT event_type,
        |    (epoch_us(ts) - ((epoch_us(ts) % 86400000000) + 86400000000)
        |      % 86400000000) // 86400000000 AS bucket,
        |    epoch_us(ts) AS t, event_id, value
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY t, event_id) AS ra,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY t DESC, event_id DESC) AS rd
        |  FROM e)
        |SELECT event_type, bucket,
        |  round(max(CASE WHEN ra = 1 THEN value END), 4) AS open,
        |  round(max(value), 4) AS high,
        |  round(min(value), 4) AS low,
        |  round(max(CASE WHEN rd = 1 THEN value END), 4) AS close,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS value_sum
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // gap-fill replay: the sparse hourly close relation, a groups×span
    // spine, IGNORE NULLS last-value forward fill, explicit provenance
    "event_resample_gapfill" ->
      """WITH e AS (
        |  SELECT event_type,
        |    (epoch_us(ts) - ((epoch_us(ts) % 3600000000) + 3600000000)
        |      % 3600000000) // 3600000000 AS bucket,
        |    epoch_us(ts) AS t, event_id, value
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL AND value > 90),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY t DESC, event_id DESC) AS rd
        |  FROM e),
        |o AS (
        |  SELECT event_type, bucket,
        |    max(CASE WHEN rd = 1 THEN value END) AS close
        |  FROM r GROUP BY 1, 2),
        |span AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM o),
        |spine AS (
        |  SELECT g.event_type, u.b AS bucket
        |  FROM (SELECT DISTINCT event_type FROM o) g, span,
        |    unnest(range(span.lo, span.hi + 1)) AS u(b)),
        |j AS (
        |  SELECT s.event_type, s.bucket, o.close,
        |    (o.event_type IS NOT NULL) AS obs
        |  FROM spine s LEFT JOIN o
        |    ON o.event_type = s.event_type AND o.bucket = s.bucket),
        |f AS (
        |  SELECT event_type, bucket, obs,
        |    last_value(close IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS close
        |  FROM j)
        |SELECT event_type, bucket, round(close, 4) AS close,
        |  CASE WHEN obs THEN 'obs' ELSE 'fill' END AS src
        |FROM f ORDER BY 1, 2""".stripMargin,

    "event_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |marks AS (
        |  SELECT *, CASE WHEN lag(t) OVER w IS NULL
        |      OR t - lag(t) OVER w > 3600000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |sess AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marks)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(t) AS session_start_us, max(t) AS session_end_us
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the range join replayed as the bare containment theta join the
    // operator's bin-blocking is provably equivalent to
    "range_join_pairs" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |marks AS (
        |  SELECT *, CASE WHEN lag(t) OVER w IS NULL
        |      OR t - lag(t) OVER w > 3600000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |sess AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marks),
        |sl AS (
        |  SELECT user_id, session_id, min(t) AS st, max(t) AS en
        |  FROM sess WHERE user_id <= 30 GROUP BY 1, 2)
        |SELECT sl.user_id, sl.session_id, p.event_id
        |FROM sl JOIN e p ON p.t BETWEEN sl.st AND sl.en
        |ORDER BY 1, 2, 3""".stripMargin,

    // the overlap join replayed as the bare inclusive-overlap theta join
    "range_join_overlaps" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |marks AS (
        |  SELECT *, CASE WHEN lag(t) OVER w IS NULL
        |      OR t - lag(t) OVER w > 3600000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |sess AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marks),
        |s2 AS (
        |  SELECT user_id, session_id, min(t) AS st, max(t) AS en
        |  FROM sess GROUP BY 1, 2),
        |a AS (SELECT * FROM s2 WHERE user_id <= 20),
        |b AS (SELECT * FROM s2 WHERE user_id > 20 AND user_id <= 60)
        |SELECT a.user_id AS user_a, a.session_id AS session_a,
        |  b.user_id AS user_b, b.session_id AS session_b
        |FROM a JOIN b ON greatest(a.st, b.st) <= least(a.en, b.en)
        |ORDER BY 1, 2, 3, 4""".stripMargin,

    // each event replicated into its 2 covering 1-min-slide windows
    "q24_sliding_window" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_type,
        |    CAST(floor(value * 1000) AS BIGINT) AS qv
        |  FROM events),
        |w AS (
        |  SELECT ((t // 60000000) - i) * 60000000 AS window_start_us,
        |    event_type, qv
        |  FROM e CROSS JOIN (SELECT unnest(range(2)) AS i) s)
        |SELECT window_start_us, event_type, count(*) AS cnt,
        |  CAST(sum(qv) AS BIGINT) AS sum_mils
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // native session_window semantics: break at gap >= (a [ts, ts+gap)
    // window merges only events strictly inside it)
    "q23_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |marks AS (
        |  SELECT *, CASE WHEN lag(t) OVER w IS NULL
        |      OR t - lag(t) OVER w >= 3600000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |sess AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marks)
        |SELECT user_id, min(t) AS session_start_us, max(t) AS session_end_us,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_start_us""".stripMargin,

    // batch equivalence for the stream-stream interval join
    "stream_join_oracled" ->
      """SELECT l.event_id AS l_id, r.event_id AS r_id, l.user_id,
        |  epoch_us(l.ts) AS l_ts_us, epoch_us(r.ts) AS r_ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL '1 hour'
        |ORDER BY l_id, r_id""".stripMargin,

    // batch LEFT JOIN equivalence; NULLS FIRST on r_id so the unmatched
    // rows order identically in both engines
    "stream_join_outer_oracled" ->
      """SELECT l.event_id AS l_id, r.event_id AS r_id, l.user_id,
        |  epoch_us(l.ts) AS l_ts_us, epoch_us(r.ts) AS r_ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL '1 hour'
        |ORDER BY l_id, r_id NULLS FIRST""".stripMargin,

    // batch FULL OUTER equivalence; the user column coalesces across
    // sides so right-only rows keep their user
    "stream_join_full_oracled" ->
      """SELECT l.event_id AS l_id, r.event_id AS r_id,
        |  coalesce(l.user_id, r.user_id) AS user_id,
        |  epoch_us(l.ts) AS l_ts_us, epoch_us(r.ts) AS r_ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL '1 hour'
        |ORDER BY l_id NULLS FIRST, r_id NULLS FIRST""".stripMargin,

    // batch equivalence for the streaming sessionizer: identical session
    // derivation to event_sessions, projected to the replay's surface
    "stream_sessions_oracled" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |marks AS (
        |  SELECT *, CASE WHEN lag(t) OVER w IS NULL
        |      OR t - lag(t) OVER w > 3600000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |sess AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marks)
        |SELECT user_id, min(t) AS session_start_us, max(t) AS session_end_us,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_start_us""".stripMargin,

    "session_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |marks AS (
        |  SELECT *, CASE WHEN lag(t) OVER w IS NULL
        |      OR t - lag(t) OVER w > 3600000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |sess AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marks),
        |sessions AS (
        |  SELECT user_id, session_id, min(t) AS s_us, max(t) AS e_us
        |  FROM sess GROUP BY 1, 2)
        |SELECT s.user_id, s.session_id, count(*) AS n_concurrent
        |FROM sessions s JOIN e ON e.t BETWEEN s.s_us AND s.e_us
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q09_event_type_stats" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "scd_upsert_landing" -> landingAfterB2Sql,

    "scd4_history" -> (supCte +
      """
        |SELECT * FROM (
        |  SELECT k AS supplier_key, code AS supplier_code, name AS supplier_name,
        |    state0 AS supplier_state,
        |    TIMESTAMP '2024-02-01 00:00:00' AS superseded_at
        |  FROM sup WHERE k % 3 = 0 OR k % 5 = 0
        |  UNION ALL
        |  SELECT k, code, CASE WHEN k % 5 = 0 THEN name || '_v2' ELSE name END,
        |    state1, TIMESTAMP '2024-03-01 00:00:00'
        |  FROM sup WHERE k % 3 = 0)
        |ORDER BY supplier_key, superseded_at""".stripMargin),

    // as-of between the cycles ≡ the landing table after batch2
    "scd4_asof" -> landingAfterB2Sql,

    "scd2_late_splice" -> (supCte +
      """
        |, hist AS (
        |  SELECT k, code, name, state0 AS state,
        |    TIMESTAMP '2024-01-01 00:00:00' AS start_date,
        |    TIMESTAMP '2024-02-01 00:00:00' AS end_date, 'N' AS current_flag
        |  FROM sup WHERE (k % 3 = 0 OR k % 5 = 0) AND k % 7 <> 0
        |  UNION ALL
        |  SELECT k, code, name, state0, TIMESTAMP '2024-01-01 00:00:00',
        |    TIMESTAMP '2024-01-15 00:00:00', 'N'
        |  FROM sup WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT k, code, name, 'STL' || CAST(k % 25 AS VARCHAR),
        |    TIMESTAMP '2024-01-15 00:00:00', TIMESTAMP '2024-02-01 00:00:00', 'N'
        |  FROM sup WHERE k % 7 = 0 AND (k % 3 = 0 OR k % 5 = 0)
        |  UNION ALL
        |  SELECT k, code, name, 'STL' || CAST(k % 25 AS VARCHAR),
        |    TIMESTAMP '2024-01-15 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 7 = 0 AND k % 3 <> 0 AND k % 5 <> 0
        |  UNION ALL
        |  SELECT k, code, name, state0, TIMESTAMP '2024-01-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 3 <> 0 AND k % 5 <> 0 AND k % 7 <> 0
        |  UNION ALL
        |  SELECT k, code, CASE WHEN k % 5 = 0 THEN name || '_v2' ELSE name END,
        |    state1, TIMESTAMP '2024-02-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k + 100000, 'S' || CAST(k + 100000 AS VARCHAR),
        |    'NEW_SUPPLIER_' || CAST(k AS VARCHAR), state0,
        |    TIMESTAMP '2024-02-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 4 = 0)
        |SELECT k AS supplier_key, code AS supplier_code, name AS supplier_name,
        |  state AS supplier_state, start_date, end_date, current_flag
        |FROM hist ORDER BY supplier_key, start_date, supplier_state""".stripMargin),

    "scd_cdc_diff" -> (supCte +
      """
        |, cdc AS (
        |  SELECT k, code,
        |    CASE WHEN k % 5 = 0 THEN name || '_v2' ELSE name END AS name,
        |    CASE WHEN k % 3 = 0 THEN state1 ELSE state0 END AS state,
        |    'INSERT' AS action, TRUE AS isup
        |  FROM sup WHERE k % 3 = 0 OR k % 5 = 0
        |  UNION ALL
        |  SELECT k, code, name, state0, 'DELETE', TRUE
        |  FROM sup WHERE k % 3 = 0 OR k % 5 = 0
        |  UNION ALL
        |  SELECT k + 100000, 'S' || CAST(k + 100000 AS VARCHAR),
        |    'NEW_SUPPLIER_' || CAST(k AS VARCHAR), state0, 'INSERT', FALSE
        |  FROM sup WHERE k % 4 = 0)
        |SELECT k AS supplier_key, code AS supplier_code, name AS supplier_name,
        |  state AS supplier_state, action AS _action, isup AS _is_update,
        |  md5(coalesce(CAST(length(code) AS VARCHAR) || ':' || code, '~')) AS _row_id
        |FROM cdc ORDER BY supplier_key, _action""".stripMargin),

    "scd_cdc_deletes" -> (supCte +
      """
        |SELECT k AS supplier_key, code AS supplier_code, state0 AS supplier_state
        |FROM sup WHERE k % 3 = 0 OR k % 5 = 0
        |ORDER BY supplier_key""".stripMargin),

    "scd2_history" -> (supCte +
      """
        |, hist AS (
        |  SELECT k, code, name, state0 AS state,
        |    TIMESTAMP '2024-01-01 00:00:00' AS start_date,
        |    TIMESTAMP '2024-02-01 00:00:00' AS end_date, 'N' AS current_flag
        |  FROM sup WHERE k % 3 = 0 OR k % 5 = 0
        |  UNION ALL
        |  SELECT k, code, name, state0, TIMESTAMP '2024-01-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 3 <> 0 AND k % 5 <> 0
        |  UNION ALL
        |  SELECT k, code, CASE WHEN k % 5 = 0 THEN name || '_v2' ELSE name END,
        |    state1, TIMESTAMP '2024-02-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k + 100000, 'S' || CAST(k + 100000 AS VARCHAR),
        |    'NEW_SUPPLIER_' || CAST(k AS VARCHAR), state0,
        |    TIMESTAMP '2024-02-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 4 = 0)
        |SELECT k AS supplier_key, code AS supplier_code, name AS supplier_name,
        |  state AS supplier_state, start_date, end_date, current_flag
        |FROM hist ORDER BY supplier_key, start_date, supplier_state""".stripMargin),

    "scd2_master" -> (supCte +
      """
        |, cur AS (
        |  SELECT k, code, name, state0 AS state FROM sup WHERE k % 3 <> 0 AND k % 5 <> 0
        |  UNION ALL
        |  SELECT k, code, CASE WHEN k % 5 = 0 THEN name || '_v2' ELSE name END,
        |    state1 FROM sup WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k + 100000, 'S' || CAST(k + 100000 AS VARCHAR),
        |    'NEW_SUPPLIER_' || CAST(k AS VARCHAR), state0 FROM sup WHERE k % 4 = 0)
        |SELECT k AS supplier_key, code AS supplier_code, name AS supplier_name,
        |  state AS supplier_state
        |FROM cur ORDER BY supplier_key""".stripMargin),

    "scd3_dim" -> (supCte +
      """
        |, dim AS (
        |  SELECT k, code, CASE WHEN k % 5 = 0 THEN name || '_v2' ELSE name END AS name,
        |    state1 AS state, state0 AS state_prev
        |  FROM sup WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k, code, name || '_v2', state0, NULL
        |  FROM sup WHERE k % 5 = 0 AND k % 3 <> 0
        |  UNION ALL
        |  SELECT k, code, name, state0, NULL
        |  FROM sup WHERE k % 3 <> 0 AND k % 5 <> 0
        |  UNION ALL
        |  SELECT k + 100000, 'S' || CAST(k + 100000 AS VARCHAR),
        |    'NEW_SUPPLIER_' || CAST(k AS VARCHAR), state0, NULL
        |  FROM sup WHERE k % 4 = 0)
        |SELECT k AS supplier_key, code AS supplier_code, name AS supplier_name,
        |  state AS supplier_state, state_prev AS supplier_state_prev
        |FROM dim ORDER BY supplier_key""".stripMargin),

    "scd6_history" -> (supCte +
      """
        |, hist AS (
        |  SELECT k, code, name, state0 AS state,
        |    TIMESTAMP '2024-01-01 00:00:00' AS start_date,
        |    TIMESTAMP '2024-02-01 00:00:00' AS end_date, 'N' AS current_flag
        |  FROM sup WHERE k % 3 = 0 OR k % 5 = 0
        |  UNION ALL
        |  SELECT k, code, name, state0, TIMESTAMP '2024-01-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 3 <> 0 AND k % 5 <> 0
        |  UNION ALL
        |  SELECT k, code, CASE WHEN k % 5 = 0 THEN name || '_v2' ELSE name END,
        |    state1, TIMESTAMP '2024-02-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k + 100000, 'S' || CAST(k + 100000 AS VARCHAR),
        |    'NEW_SUPPLIER_' || CAST(k AS VARCHAR), state0,
        |    TIMESTAMP '2024-02-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 4 = 0),
        |cur AS (SELECT code, state AS state_current FROM hist
        |  WHERE current_flag = 'Y')
        |SELECT h.k AS supplier_key, h.code AS supplier_code,
        |  h.name AS supplier_name, h.state AS supplier_state,
        |  h.start_date, h.end_date, h.current_flag,
        |  c.state_current AS supplier_state_current
        |FROM hist h LEFT JOIN cur c ON h.code = c.code
        |ORDER BY supplier_key, start_date, supplier_state""".stripMargin),

    "scd2_corrected" -> (supCte +
      """
        |, hist AS (
        |  -- %3 keys: three versions (v2 reopened at t3 in corrected mode)
        |  SELECT k, code, name, state0 AS state,
        |    TIMESTAMP '2024-01-01 00:00:00' AS start_date,
        |    TIMESTAMP '2024-02-01 00:00:00' AS end_date, 'N' AS current_flag
        |  FROM sup WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k, code, CASE WHEN k % 5 = 0 THEN name || '_v2' ELSE name END,
        |    state1, TIMESTAMP '2024-02-01 00:00:00',
        |    TIMESTAMP '2024-03-01 00:00:00', 'N'
        |  FROM sup WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k, code, CASE WHEN k % 5 = 0 THEN name || '_v2' ELSE name END,
        |    state0, TIMESTAMP '2024-03-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 3 = 0
        |  UNION ALL
        |  -- name-only changes: closed at t2, retired (same in corrected mode)
        |  SELECT k, code, name, state0, TIMESTAMP '2024-01-01 00:00:00',
        |    TIMESTAMP '2024-02-01 00:00:00', 'N'
        |  FROM sup WHERE k % 5 = 0 AND k % 3 <> 0
        |  UNION ALL
        |  SELECT k, code, name, state0, TIMESTAMP '2024-01-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 3 <> 0 AND k % 5 <> 0
        |  UNION ALL
        |  SELECT k + 100000, 'S' || CAST(k + 100000 AS VARCHAR),
        |    'NEW_SUPPLIER_' || CAST(k AS VARCHAR), state0,
        |    TIMESTAMP '2024-02-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 4 = 0)
        |SELECT k AS supplier_key, code AS supplier_code, name AS supplier_name,
        |  state AS supplier_state, start_date, end_date, current_flag
        |FROM hist ORDER BY supplier_key, start_date, supplier_state""".stripMargin),

    "scd2_asof" -> (supCte +
      """
        |, hist AS (
        |  SELECT k, code, name, state0 AS state,
        |    TIMESTAMP '2024-01-01 00:00:00' AS start_date,
        |    TIMESTAMP '2024-02-01 00:00:00' AS end_date, 'N' AS current_flag
        |  FROM sup WHERE k % 3 = 0 OR k % 5 = 0
        |  UNION ALL
        |  SELECT k, code, name, state0, TIMESTAMP '2024-01-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 3 <> 0 AND k % 5 <> 0
        |  UNION ALL
        |  SELECT k, code, CASE WHEN k % 5 = 0 THEN name || '_v2' ELSE name END,
        |    state1, TIMESTAMP '2024-02-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k + 100000, 'S' || CAST(k + 100000 AS VARCHAR),
        |    'NEW_SUPPLIER_' || CAST(k AS VARCHAR), state0,
        |    TIMESTAMP '2024-02-01 00:00:00', NULL, 'Y'
        |  FROM sup WHERE k % 4 = 0),
        |facts AS (
        |  SELECT 'S' || CAST(l_suppkey AS VARCHAR) AS code,
        |    CASE WHEN l_orderkey % 2 = 0 THEN TIMESTAMP '2024-01-15 00:00:00'
        |         ELSE TIMESTAMP '2024-02-15 00:00:00' END AS ts,
        |    l_quantity AS qty
        |  FROM lineitem)
        |SELECT h.state AS supplier_state, h.current_flag,
        |  count(*) AS cnt, round(sum(f.qty), 2) AS sum_qty
        |FROM facts f LEFT JOIN hist h ON f.code = h.code
        |  AND f.ts >= h.start_date
        |  AND (h.end_date IS NULL OR f.ts < h.end_date)
        |GROUP BY 1, 2
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin),

    "scd_upsert_large" ->
      """WITH base AS (
        |  SELECT l_orderkey * 8 + l_linenumber AS dim_id, max(l_quantity) AS qty,
        |         max(l_extendedprice) AS price, min(l_returnflag) AS flag
        |  FROM lineitem GROUP BY 1),
        |merged AS (
        |  SELECT dim_id,
        |    CASE WHEN dim_id % 7 = 0 THEN qty + 1 ELSE qty END AS qty,
        |    CASE WHEN dim_id % 5 = 0 THEN price * 2 ELSE price END AS price,
        |    flag
        |  FROM base
        |  UNION ALL
        |  SELECT dim_id + 1000000000, qty, price, 'X' FROM base WHERE dim_id % 11 = 0)
        |SELECT flag, count(*) AS cnt, round(sum(qty), 2) AS sum_qty,
        |  round(sum(price), 2) AS sum_price
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical closed form to scd_upsert_large: the bucketed layout is
    // physical, the merge result must be bit-identical
    "scd_upsert_stored" ->
      """WITH base AS (
        |  SELECT l_orderkey * 8 + l_linenumber AS dim_id, max(l_quantity) AS qty,
        |         max(l_extendedprice) AS price, min(l_returnflag) AS flag
        |  FROM lineitem GROUP BY 1),
        |merged AS (
        |  SELECT dim_id,
        |    CASE WHEN dim_id % 7 = 0 THEN qty + 1 ELSE qty END AS qty,
        |    CASE WHEN dim_id % 5 = 0 THEN price * 2 ELSE price END AS price,
        |    flag
        |  FROM base
        |  UNION ALL
        |  SELECT dim_id + 1000000000, qty, price, 'X' FROM base WHERE dim_id % 11 = 0)
        |SELECT flag, count(*) AS cnt, round(sum(qty), 2) AS sum_qty,
        |  round(sum(price), 2) AS sum_price
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    "incremental_agg" ->
      """WITH base AS (
        |  SELECT l_orderkey * 8 + l_linenumber AS dim_id, max(l_quantity) AS qty,
        |         max(l_extendedprice) AS price, min(l_returnflag) AS flag
        |  FROM lineitem GROUP BY 1),
        |merged AS (
        |  SELECT dim_id,
        |    CASE WHEN dim_id % 7 = 0 THEN qty + 1 ELSE qty END AS qty,
        |    CASE WHEN dim_id % 5 = 0 THEN price * 2 ELSE price END AS price,
        |    flag
        |  FROM base
        |  UNION ALL
        |  SELECT dim_id + 1000000000, qty, price, 'X' FROM base WHERE dim_id % 11 = 0)
        |SELECT flag, count(*) AS cnt, round(sum(qty), 2) AS sum_qty,
        |  round(sum(price), 2) AS sum_price
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    "scd_cdc_stored" ->
      """WITH base AS (
        |  SELECT l_orderkey * 8 + l_linenumber AS dim_id, max(l_quantity) AS qty,
        |         max(l_extendedprice) AS price, min(l_returnflag) AS flag
        |  FROM lineitem GROUP BY 1),
        |ch AS (SELECT * FROM base WHERE dim_id % 7 = 0 OR dim_id % 5 = 0)
        |SELECT * FROM (
        |  SELECT 'DELETE' AS _action, TRUE AS _is_update, count(*) AS cnt,
        |    round(sum(qty), 2) AS sum_qty FROM ch
        |  UNION ALL
        |  SELECT 'INSERT', TRUE, count(*),
        |    round(sum(CASE WHEN dim_id % 7 = 0 THEN qty + 1 ELSE qty END), 2) FROM ch
        |  UNION ALL
        |  SELECT 'INSERT', FALSE, count(*), round(sum(qty), 2)
        |  FROM base WHERE dim_id % 11 = 0)
        |ORDER BY _action, _is_update""".stripMargin,

    "scd_cdc_large" ->
      """WITH base AS (
        |  SELECT l_orderkey * 8 + l_linenumber AS dim_id, max(l_quantity) AS qty,
        |         max(l_extendedprice) AS price, min(l_returnflag) AS flag
        |  FROM lineitem GROUP BY 1),
        |ch AS (SELECT * FROM base WHERE dim_id % 7 = 0 OR dim_id % 5 = 0)
        |SELECT * FROM (
        |  SELECT 'DELETE' AS _action, TRUE AS _is_update, count(*) AS cnt,
        |    round(sum(qty), 2) AS sum_qty FROM ch
        |  UNION ALL
        |  SELECT 'INSERT', TRUE, count(*),
        |    round(sum(CASE WHEN dim_id % 7 = 0 THEN qty + 1 ELSE qty END), 2) FROM ch
        |  UNION ALL
        |  SELECT 'INSERT', FALSE, count(*), round(sum(qty), 2)
        |  FROM base WHERE dim_id % 11 = 0)
        |ORDER BY _action, _is_update""".stripMargin,

    // stats-pruned store scans: pruning is planning-level only (the
    // exact predicate is re-applied after the pruned read), so the
    // oracle is the plain filter over the raw table
    "store_prune_range" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND o_orderdate <= TIMESTAMP '1998-06-30 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "store_prune_point" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_custkey = 42
        |ORDER BY o_orderkey""".stripMargin,

    "store_prune_compound" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
        |  AND TIMESTAMP '1997-12-31 00:00:00'
        |  AND o_custkey = 42
        |ORDER BY o_orderkey""".stripMargin,

    // the z-layout is physical only: the oracle is the plain box filter
    "store_prune_zorder" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
        |  AND TIMESTAMP '1996-12-31 00:00:00'
        |  AND o_custkey BETWEEN 10 AND 120
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // time travel reads the FIRST committed version (the even-key half);
    // the oracle recomputes that version's content from the raw table
    "store_time_travel" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders WHERE o_orderkey % 2 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // restore rolled the table back to its first commit, so the CURRENT
    // read holds the identical even-key content — same closed form,
    // reached through the rollback commit instead of an as-of read
    "store_restore" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders WHERE o_orderkey % 2 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // merge-on-read delete (tombstone sidecar applied at scan time) and
    // its materialized purge hold identical content: the raw table
    // minus the price tail (NULL prices never match the delete
    // predicate, so they survive)
    "store_delete_mor" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |WHERE o_totalprice <= 450000 OR o_totalprice IS NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "store_purge" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |WHERE o_totalprice <= 450000 OR o_totalprice IS NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // merge-on-read UPSERT: the oracle replays the key-synthesized
    // update/insert batch in closed form — survivors are the rows whose
    // key no update carries (NULL keys never match, so they survive),
    // plus one 'U' row per 97-divisible key and one 'N' insert per
    // 101-divisible key (insert keys are shifted by 1e9; their payload
    // derives from the ORIGINAL key, matching the Spark-side synth)
    "store_merge_mor" ->
      """WITH keys97 AS (
        |  SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 97 = 0),
        |keys101 AS (
        |  SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 101 = 0),
        |merged AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey IS NULL
        |     OR o_orderkey NOT IN (SELECT o_orderkey FROM keys97)
        |  UNION ALL
        |  SELECT 'U', (o_orderkey % 9999) + 0.5 FROM keys97
        |  UNION ALL
        |  SELECT 'N', (o_orderkey % 9999) + 0.5 FROM keys101)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    // change data feed across the upsert: DELETEs are the replaced
    // original rows (key % 97 = 0), INSERTs are the update + insert
    // batch rows — the same closed-form batch store_merge_mor replays
    "store_cdf" ->
      """WITH keys97 AS (
        |  SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 97 = 0),
        |keys101 AS (
        |  SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 101 = 0),
        |changes AS (
        |  SELECT 'DELETE' AS _action, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT 'INSERT', 'U', (o_orderkey % 9999) + 0.5 FROM keys97
        |  UNION ALL
        |  SELECT 'INSERT', 'N', (o_orderkey % 9999) + 0.5 FROM keys101)
        |SELECT _action, o_orderstatus, count(*) AS n_rows,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM changes GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the clone reads exactly what its DV'd source read at clone time
    "store_clone" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |WHERE o_totalprice <= 450000 OR o_totalprice IS NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // streaming MERGE replay: last-wins over the three overlapping
    // key-synthesized slices (the LAST slice containing a key wins:
    // %8 -> 'C' over %6 -> 'B' over %4 -> 'A'); unmatched rows keep
    // their original status and price
    "stream_upsert_mor_oracled" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM (
        |  SELECT CASE WHEN o_orderkey % 8 = 0 THEN 'C'
        |              WHEN o_orderkey % 6 = 0 THEN 'B'
        |              WHEN o_orderkey % 4 = 0 THEN 'A'
        |              ELSE o_orderstatus END AS o_orderstatus,
        |         CASE WHEN o_orderkey % 8 = 0 THEN (o_orderkey % 999) + 2000.5
        |              WHEN o_orderkey % 6 = 0 THEN (o_orderkey % 999) + 1000.5
        |              WHEN o_orderkey % 4 = 0 THEN (o_orderkey % 999) + 0.5
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // maintained streaming MERGE replay: batch i owns the DISJOINT key
    // residue o_orderkey % 997 == i+1 (i in [0, 48)), so last-wins is
    // one CASE — updated keys take status 'M' and price
    // (o_orderkey % 999) + i where i = (o_orderkey % 997) - 1
    "stream_upsert_maintained_oracled" ->
      s"""SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM (
        |  SELECT CASE WHEN o_orderkey % 997 BETWEEN 1 AND $StreamMaintBatches
        |              THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
        |         CASE WHEN o_orderkey % 997 BETWEEN 1 AND $StreamMaintBatches
        |              THEN (o_orderkey % 999) + ((o_orderkey % 997) - 1)
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // metadata-only aggregate: exact fold of per-file sidecar stats
    // equals the data-scan aggregate the oracle computes
    "store_stats_agg" ->
      """SELECT count(*) AS n_rows,
        |  min(o_totalprice) AS min_o_totalprice,
        |  max(o_totalprice) AS max_o_totalprice,
        |  count(o_totalprice) AS cnt_o_totalprice,
        |  min(o_custkey) AS min_o_custkey,
        |  max(o_custkey) AS max_o_custkey,
        |  count(o_custkey) AS cnt_o_custkey
        |FROM orders""".stripMargin,

    "salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "salted_join" ->
      """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_stats" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |  round(CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) * 1.0 / length(text) END, 4) AS punct_ratio,
        |  round(CASE WHEN length(trim(text)) = 0 THEN 0.0
        |    ELSE length(regexp_replace(trim(text), '\s+', '', 'g')) * 1.0 /
        |         len(string_split_regex(trim(text), '\s+')) END, 4) AS mean_token_len,
        |  round(CASE WHEN length(trim(text)) = 0 THEN 0.0
        |    ELSE len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |           x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) * 1.0 /
        |         len(string_split_regex(trim(text), '\s+')) END, 4) AS stopword_ratio,
        |  round((
        |    CASE WHEN length(trim(text)) = 0 THEN 0.0
        |         WHEN len(string_split_regex(trim(text), '\s+')) BETWEEN 10 AND 1000 THEN 1.0
        |         ELSE 0.5 END +
        |    CASE WHEN length(text) = 0 OR
        |      length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) * 1.0 / length(text) <= 0.2
        |      THEN 1.0 ELSE 0.0 END +
        |    CASE WHEN length(trim(text)) > 0 AND
        |      len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) * 1.0 /
        |      len(string_split_regex(trim(text), '\s+')) >= 0.05
        |      THEN 1.0 ELSE 0.0 END) / 3.0, 4) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_bpe_tokens" ->
      ("""SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
         |  len(regexp_extract_all(text, '""" + T.bpePattern.replace("'", "''") + """')) AS bpe_tokens
         |FROM documents ORDER BY doc_id""").stripMargin,

    "text_langid" -> {
      def hits(words: Seq[String]) = words.map { w =>
        s"(length(' '||lower(text)||' ') - length(replace(' '||lower(text)||' ', ' $w ', ' '))) * 1.0 / ${w.length + 1}"
      }.mkString(" + ")
      val en = hits(Seq("the", "and", "is", "of"))
      val de = hits(Seq("der", "und", "ist", "das"))
      val fr = hits(Seq("le", "et", "est", "les"))
      val es = hits(Seq("el", "y", "es", "los"))
      s"""SELECT doc_id,
         |  CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
         |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         |       WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
         |       ELSE 'und' END AS lang_pred
         |FROM (SELECT doc_id, $en AS s_en, $de AS s_de, $fr AS s_fr, $es AS s_es
         |      FROM documents) ORDER BY doc_id""".stripMargin
    },

    "token_histogram" ->
      """SELECT token, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 30""".stripMargin,

    "text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(
        |    nfc_normalize('Cafe' || chr(769) || chr(9) || '  ' || text ||
        |      '  ' || chr(7) || 'nai' || chr(776) || 've' || chr(13) || chr(10)),
        |    '[\x00-\x1f\x7f]', ' ', 'g'), '[ \t\n\x0b\x0c\r]+', ' ', 'g')) AS text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // tag-strip FIRST, then entities in fixed order with &amp; LAST, then
    // whitespace collapse + trim — the chain the fused kernel equals
    "text_strip_html" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        '<html>' || chr(9) || '<body class="c"><h1>T &amp; &quot;s&#39;</h1> <p>'
        |          || text ||
        |          '</p> <br/> &lt;b&gt;not-a-tag 5 &lt; 6 tail<unclosed',
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&amp;', '&'),
        |    '[ \t\n\x0b\x0c\r]+', ' ', 'g')) AS text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term <> '' GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    round(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 4)
        |      AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        |  FROM scored)
        |SELECT doc_id, term, tf, df, score, rk FROM ranked
        |WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin,

    // same tokenize recipe; the stored layout only changes WHERE postings
    // live, never which docs match
    "search_indexed_oracled" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |t AS (SELECT doc_id, term FROM tk WHERE term <> ''),
        |p AS (
        |  SELECT doc_id, term, count(*) AS tf FROM t
        |  WHERE term IN ('spark', 'join') GROUP BY 1, 2),
        |d AS (
        |  SELECT doc_id, count(*) AS n_terms,
        |    CAST(sum(tf) AS BIGINT) AS tf_sum
        |  FROM p GROUP BY 1)
        |SELECT doc_id, tf_sum FROM d WHERE n_terms = 2
        |ORDER BY tf_sum DESC, doc_id LIMIT 20""".stripMargin,

    // positional postings from the same tokenization; a doc matches the
    // phrase where the shifted position lists intersect (1-based here,
    // 0-based in Spark — the shift-invariant intersection cancels it)
    "search_phrase_oracled" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |post AS (
        |  SELECT doc_id, w AS term, list(p ORDER BY p) AS positions FROM (
        |    SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS p
        |    FROM t) x
        |  WHERE w <> '' GROUP BY 1, 2),
        |r0 AS (SELECT doc_id, positions AS p0 FROM post WHERE term = 'table'),
        |r1 AS (SELECT doc_id, list_transform(positions, x -> x - 1) AS p1
        |  FROM post WHERE term = 'scan')
        |SELECT doc_id,
        |  CAST(len(list_intersect(p0, p1)) AS BIGINT) AS n_occurrences
        |FROM r0 JOIN r1 USING (doc_id)
        |WHERE len(list_intersect(p0, p1)) > 0
        |ORDER BY n_occurrences DESC, doc_id LIMIT 20""".stripMargin,

    // integer-exact surprisal: bigram/unigram counts from the even-id
    // model slice, per-position bits = bit-length of an integer quotient
    // (format('{:b}', x) mirrors Spark's bin()), stupid-backoff +4 bits,
    // OOV +8 bits
    "text_surprisal" -> oracleSqlSurprisal,
    // the stored-model path must reproduce the inline scoring exactly —
    // same model slice, same arithmetic, counts read from parquet
    "text_surprisal_stored" -> oracleSqlSurprisal,

    // full RAKE replay: positions via unnest(range), the same
    // gaps-and-islands phrase assembly (pos − row_number; the 1-based
    // SQL pos vs Spark's 0-based posexplode only shifts the island key,
    // never the grouping), integer deg·10⁶ div freq word scores,
    // integer phrase sums, ranked top-30
    "text_keywords_rake" ->
      """WITH toks AS (
        |  SELECT doc_id AS id, CAST(i AS BIGINT) AS pos, t[i] AS tok
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS t
        |        FROM documents),
        |    unnest(range(1, len(t)+1)) AS u(i)),
        |content AS (
        |  SELECT id, pos, tok,
        |    pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS grp
        |  FROM toks
        |  WHERE tok <> '' AND tok NOT IN ('the','a','an','and','or','of',
        |    'to','in','is','it','for','on','with','as','row','value')),
        |member AS (
        |  SELECT id, grp, pos, tok,
        |    CAST(count(*) OVER (PARTITION BY id, grp) AS BIGINT) AS plen
        |  FROM content),
        |ws AS (
        |  SELECT tok,
        |    (CAST(sum(plen) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
        |      AS w_mil
        |  FROM member GROUP BY 1),
        |occ AS (
        |  SELECT m.id, m.grp,
        |    string_agg(m.tok, ' ' ORDER BY m.pos) AS phrase,
        |    CAST(sum(w.w_mil) AS BIGINT) AS score_mil,
        |    CAST(count(*) AS BIGINT) AS n_words
        |  FROM member m JOIN ws w ON w.tok = m.tok
        |  GROUP BY 1, 2),
        |ph AS (
        |  SELECT phrase, CAST(count(*) AS BIGINT) AS occurrences,
        |    min(score_mil) AS score_mil, min(n_words) AS n_words
        |  FROM occ GROUP BY 1)
        |SELECT phrase, score_mil, n_words, occurrences, rk FROM (
        |  SELECT phrase, score_mil, n_words, occurrences,
        |    CAST(row_number() OVER (ORDER BY score_mil DESC, phrase)
        |      AS BIGINT) AS rk
        |  FROM ph)
        |WHERE rk <= 30 ORDER BY rk""".stripMargin,

    "text_rarity" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
        |vocab AS (SELECT term, count(*) AS cnt FROM tk GROUP BY term),
        |scored AS (
        |  SELECT tk.doc_id, count(*) AS n_toks,
        |    CAST(sum(v.cnt) AS BIGINT) AS sum_freq
        |  FROM tk JOIN vocab v USING (term) GROUP BY tk.doc_id)
        |SELECT doc_id, n_toks, sum_freq,
        |  CAST(floor(sum_freq * 1000.0 / n_toks) AS BIGINT) AS mean_freq_mils
        |FROM scored ORDER BY doc_id""".stripMargin,

    // one SQL, two paths: the full-scan bm25TopDocs and the stored-index
    // bm25FromIndex produce identical scores by construction (same exact
    // integer tf/df/dl/N inputs, same fixed-order sum), so a single
    // oracle verifies both
    "text_bm25_indexed" -> bm25OracleSql,
    // the appended index must score IDENTICALLY to the full corpus —
    // append ≡ rebuild is the oracle itself
    "text_bm25_index_append" -> bm25OracleSql,
    "text_bm25_oracled" -> bm25OracleSql,

    // Morton interleave as closed-form bit arithmetic, generated for
    // bits=11 × 2 dims: output bit (i*2+j) = bit i of dim j
    "layout_zorder" -> {
      val terms = (for { i <- 0 until 11; j <- 0 until 2 } yield {
        val c = if (j == 0) "l_partkey" else "l_suppkey"
        s"(((($c & 2047) >> $i) & 1) << ${i * 2 + j})"
      }).mkString(" | ")
      s"""SELECT l_orderkey, l_linenumber, ($terms) AS zval
         |FROM lineitem
         |ORDER BY zval DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin
    },

    // RRF hybrid fusion, PRODUCTION (indexed) shape: the bm CTE chain is
    // the BM25 formula at k=50 (index and full scan agree by
    // construction), the ann CTE replays the closed-form portable LSH
    // bucket algebra at Hamming ≤ 2, k=50 — the exact candidate set the
    // partition-pruned probe reads; ranks are integers so the fused
    // score is exact per-row math
    "search_hybrid_rrf" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        |  FROM documents),
        |tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |stats AS (
        |  SELECT count(*) AS tot, (SELECT count(*) FROM documents) AS n FROM tok2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok2
        |  WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |w AS (
        |  SELECT tf.doc_id, tf.term,
        |    ln((CAST(s.n AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
        |    (CAST(tf.tf AS DOUBLE) /
        |      (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 *
        |        (CAST(dl.dl AS DOUBLE) / (CAST(s.tot AS DOUBLE) / s.n))))) AS w
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
        |bm AS (
        |  SELECT doc_id,
        |    round(coalesce(max(CASE WHEN term = 'spark' THEN w END), 0.0)
        |        + coalesce(max(CASE WHEN term = 'join' THEN w END), 0.0)
        |        + coalesce(max(CASE WHEN term = 'window' THEN w END), 0.0), 4) AS bm25
        |  FROM w GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
        |bk AS (
        |  SELECT vec_id, embedding, $duckBucketBits AS bucket FROM embeddings),
        |q AS (
        |  SELECT embedding, $duckBucketBits AS qb FROM embeddings WHERE vec_id = 0),
        |ann AS (
        |  SELECT bk.vec_id,
        |    round(${duckCos("bk.embedding", "q.embedding")}, 4) AS cos
        |  FROM bk, q
        |  WHERE len(list_filter(range(1, 9),
        |    i -> substr(bk.bucket, i, 1) <> substr(q.qb, i, 1))) <= 2
        |  ORDER BY cos DESC, vec_id LIMIT 50),
        |bmr AS (SELECT doc_id AS id,
        |  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_bm25 FROM bm),
        |annr AS (SELECT vec_id AS id,
        |  row_number() OVER (ORDER BY cos DESC, vec_id) AS rank_cos FROM ann)
        |SELECT coalesce(b.id, a.id) AS doc_id, b.rank_bm25, a.rank_cos,
        |  round(coalesce(CAST(1.0 AS DOUBLE) / (60 + b.rank_bm25), 0.0)
        |      + coalesce(CAST(1.0 AS DOUBLE) / (60 + a.rank_cos), 0.0), 6) AS rrf
        |FROM bmr b FULL OUTER JOIN annr a ON b.id = a.id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    // exact-producer twin: the bm25 CTE chain at k=50 fused with the
    // brute-force cosine top-50
    "search_hybrid_exact_oracled" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |stats AS (
        |  SELECT count(*) AS tot, (SELECT count(*) FROM documents) AS n FROM tok2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok2
        |  WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |w AS (
        |  SELECT tf.doc_id, tf.term,
        |    ln((CAST(s.n AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
        |    (CAST(tf.tf AS DOUBLE) /
        |      (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 *
        |        (CAST(dl.dl AS DOUBLE) / (CAST(s.tot AS DOUBLE) / s.n))))) AS w
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
        |bm AS (
        |  SELECT doc_id,
        |    round(coalesce(max(CASE WHEN term = 'spark' THEN w END), 0.0)
        |        + coalesce(max(CASE WHEN term = 'join' THEN w END), 0.0)
        |        + coalesce(max(CASE WHEN term = 'window' THEN w END), 0.0), 4) AS bm25
        |  FROM w GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
        |ann AS (
        |  SELECT e.vec_id,
        |    round(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) /
        |      (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |       sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
        |  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  ORDER BY cos DESC, vec_id LIMIT 50),
        |bmr AS (SELECT doc_id AS id,
        |  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_bm25 FROM bm),
        |annr AS (SELECT vec_id AS id,
        |  row_number() OVER (ORDER BY cos DESC, vec_id) AS rank_cos FROM ann)
        |SELECT coalesce(b.id, a.id) AS doc_id, b.rank_bm25, a.rank_cos,
        |  round(coalesce(CAST(1.0 AS DOUBLE) / (60 + b.rank_bm25), 0.0)
        |      + coalesce(CAST(1.0 AS DOUBLE) / (60 + a.rank_cos), 0.0), 6) AS rrf
        |FROM bmr b FULL OUTER JOIN annr a ON b.id = a.id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    "vocab_top_terms" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term <> '' GROUP BY doc_id, term)
        |SELECT term, count(*) AS doc_freq,
        |  CAST(sum(tf) AS BIGINT) AS total_count
        |FROM tf GROUP BY term HAVING count(*) >= 3
        |ORDER BY total_count DESC, term LIMIT 100""".stripMargin,

    // PMI replay: identical left-associative double products
    // (n_pair·N·N over M·c(l)·c(r)) and one floor(ln·1e6)
    "vocab_pmi_bigrams" ->
      """WITH toks AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |uni AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(w) AS t FROM toks) WHERE t <> '' GROUP BY 1),
        |bi_all AS (
        |  SELECT l, r, CAST(count(*) AS BIGINT) AS n_pair FROM (
        |    SELECT w[i-1] AS l, w[i] AS r
        |    FROM toks, unnest(range(2, len(w)+1)) AS u(i))
        |  WHERE l <> '' AND r <> '' GROUP BY 1, 2),
        |bi AS (SELECT * FROM bi_all WHERE n_pair >= 5),
        |tot AS (SELECT (SELECT sum(c) FROM uni) AS n,
        |               (SELECT sum(n_pair) FROM bi_all) AS m),
        |scored AS (
        |  SELECT b.l, b.r, b.n_pair,
        |    CAST(floor(ln((b.n_pair * 1.0 * t.n * t.n) /
        |      (t.m * 1.0 * ul.c * ur.c)) * 1e6) AS BIGINT) AS pmi_mil
        |  FROM bi b JOIN uni ul ON ul.t = b.l JOIN uni ur ON ur.t = b.r
        |  CROSS JOIN tot t)
        |SELECT l, r, n_pair, pmi_mil, rk FROM (
        |  SELECT l, r, n_pair, pmi_mil,
        |    CAST(row_number() OVER (ORDER BY pmi_mil DESC, l, r) AS BIGINT)
        |      AS rk
        |  FROM scored)
        |WHERE rk <= 30 ORDER BY rk""".stripMargin,

    "pii_stats" ->
      s"""WITH p AS ($piiDocsSql)
        |SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(text,
        |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ipv4,
        |  len(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS n_phone,
        |  len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS n_ssn
        |FROM p ORDER BY doc_id""".stripMargin,

    "pii_redact" ->
      s"""WITH p AS ($piiDocsSql)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
        |    '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
        |    '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g') AS text
        |FROM p ORDER BY doc_id""".stripMargin,

    "pii_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |  CAST(count(*) AS BIGINT) AS class_size
        |FROM customer GROUP BY 1, 2, 3 HAVING count(*) < 3
        |ORDER BY 1, 2, 3""".stripMargin,

    "pii_k_suppress" ->
      """WITH c AS (
        |  SELECT *, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
        |  FROM customer),
        |bad AS (
        |  SELECT c_nationkey, c_mktsegment, bal_band
        |  FROM c GROUP BY 1, 2, 3 HAVING count(*) < 3)
        |SELECT c_custkey FROM c
        |WHERE NOT EXISTS (SELECT 1 FROM bad b
        |  WHERE b.c_nationkey IS NOT DISTINCT FROM c.c_nationkey
        |    AND b.c_mktsegment IS NOT DISTINCT FROM c.c_mktsegment
        |    AND b.bal_band IS NOT DISTINCT FROM c.bal_band)
        |ORDER BY c_custkey""".stripMargin,

    // generalization-ladder replay: per-level violation counts, the
    // minimal clean level via CASE, release at that level. Floor
    // division for the (possibly negative) $4000 band in both engines.
    "pii_k_generalize" ->
      """WITH g AS (
        |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nat,
        |    c_mktsegment AS seg,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
        |    (CAST(floor(c_acctbal / 1000) AS BIGINT)
        |      - ((CAST(floor(c_acctbal / 1000) AS BIGINT) % 4) + 4) % 4) // 4
        |      AS band4,
        |    CAST(c_nationkey AS BIGINT) // 5 AS nat5
        |  FROM customer),
        |v0 AS (SELECT count(*) AS v FROM
        |  (SELECT 1 FROM g GROUP BY nat, seg, band HAVING count(*) < 3)),
        |v1 AS (SELECT count(*) AS v FROM
        |  (SELECT 1 FROM g GROUP BY nat, seg, band4 HAVING count(*) < 3)),
        |v2 AS (SELECT count(*) AS v FROM
        |  (SELECT 1 FROM g GROUP BY nat, band4 HAVING count(*) < 3)),
        |v3 AS (SELECT count(*) AS v FROM
        |  (SELECT 1 FROM g GROUP BY nat5, band4 HAVING count(*) < 3)),
        |lvl AS (SELECT CASE WHEN (SELECT v FROM v0) = 0 THEN 0
        |                    WHEN (SELECT v FROM v1) = 0 THEN 1
        |                    WHEN (SELECT v FROM v2) = 0 THEN 2
        |                    WHEN (SELECT v FROM v3) = 0 THEN 3
        |                    ELSE 4 END AS l)
        |SELECT c_custkey,
        |  CASE WHEN l <= 2 THEN nat WHEN l = 3 THEN nat5 ELSE 0 END AS nat,
        |  CASE WHEN l <= 1 THEN seg ELSE '*' END AS seg,
        |  CASE WHEN l = 0 THEN band WHEN l <= 3 THEN band4 ELSE 0 END AS band,
        |  CAST(l AS BIGINT) AS gen_level
        |FROM g, lvl
        |ORDER BY c_custkey""".stripMargin,

    "pii_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT c_acctbal < 0) AS BIGINT) AS distinct_sensitive
        |FROM customer GROUP BY 1, 2, 3
        |HAVING count(DISTINCT c_acctbal < 0) < 2
        |ORDER BY 1, 2, 3""".stripMargin,

    // ppm-lattice total-variation replay: per (class × global sensitive
    // value) absolute ppm gaps — absent combinations included via the
    // cross join — summed and halved with floor division (identical to
    // Spark's div on the non-negative lattice)
    "pii_t_closeness" ->
      """WITH g AS (
        |  SELECT c_nationkey AS nat,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
        |    c_mktsegment AS s
        |  FROM customer),
        |cs AS (SELECT nat, band, s, CAST(count(*) AS BIGINT) AS cnt
        |       FROM g GROUP BY 1, 2, 3),
        |nc AS (SELECT nat, band, sum(cnt) AS n_c FROM cs GROUP BY 1, 2),
        |gs AS (SELECT s, sum(cnt) AS g_s FROM cs GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS n FROM cs),
        |d AS (
        |  SELECT nc.nat, nc.band, nc.n_c,
        |    abs((coalesce(cs.cnt, 0) * 1000000) // nc.n_c
        |      - (gs.g_s * 1000000) // (SELECT n FROM tot)) AS d
        |  FROM nc CROSS JOIN gs
        |  LEFT JOIN cs ON cs.nat = nc.nat AND cs.band = nc.band
        |    AND cs.s = gs.s)
        |SELECT nat AS c_nationkey, band AS bal_band,
        |  CAST(n_c AS BIGINT) AS class_size,
        |  CAST(sum(d) // 2 AS BIGINT) AS tv_ppm
        |FROM d GROUP BY 1, 2, 3 HAVING sum(d) // 2 > 250000
        |ORDER BY 1, 2""".stripMargin,

    // ordered-EMD replay: cumulative signed ppm gaps per class in band
    // order (window over the class × global-band grid), abs-summed and
    // floor-divided by m−1
    "pii_t_closeness_ordered" ->
      """WITH g AS (
        |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS s
        |  FROM customer),
        |cs AS (SELECT nat, seg, s, CAST(count(*) AS BIGINT) AS cnt
        |       FROM g GROUP BY 1, 2, 3),
        |nc AS (SELECT nat, seg, sum(cnt) AS n_c FROM cs GROUP BY 1, 2),
        |gs AS (SELECT s, sum(cnt) AS g_s FROM cs GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS n FROM cs),
        |mm AS (SELECT count(*) AS m FROM gs),
        |sg AS (
        |  SELECT nc.nat, nc.seg, nc.n_c, gs.s,
        |    (coalesce(cs.cnt, 0) * 1000000) // nc.n_c
        |      - (gs.g_s * 1000000) // (SELECT n FROM tot) AS gd
        |  FROM nc CROSS JOIN gs
        |  LEFT JOIN cs ON cs.nat = nc.nat AND cs.seg = nc.seg
        |    AND cs.s = gs.s),
        |cum AS (
        |  SELECT nat, seg, n_c,
        |    sum(gd) OVER (PARTITION BY nat, seg ORDER BY s
        |      ROWS UNBOUNDED PRECEDING) AS c
        |  FROM sg)
        |SELECT nat AS c_nationkey, seg AS c_mktsegment,
        |  CAST(n_c AS BIGINT) AS class_size,
        |  CAST(sum(abs(c)) // (SELECT m - 1 FROM mm) AS BIGINT) AS tv_ppm
        |FROM cum GROUP BY 1, 2, 3
        |HAVING sum(abs(c)) // (SELECT m - 1 FROM mm) > 100000
        |ORDER BY 1, 2""".stripMargin,

    // the l-gated ladder replay: each level's violation count ORs the
    // size bound with the distinct-sensitive bound; the release carries
    // the ungeneralized debt flag alongside the settled quasi columns
    "pii_l_generalize" ->
      """WITH g AS (
        |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nat,
        |    c_mktsegment AS seg,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
        |    (CAST(floor(c_acctbal / 1000) AS BIGINT)
        |      - ((CAST(floor(c_acctbal / 1000) AS BIGINT) % 4) + 4) % 4) // 4
        |      AS band4,
        |    CAST(c_nationkey AS BIGINT) // 5 AS nat5,
        |    c_acctbal < 0 AS debt
        |  FROM customer),
        |v0 AS (SELECT count(*) AS v FROM
        |  (SELECT 1 FROM g GROUP BY nat, seg, band
        |   HAVING count(*) < 3 OR count(DISTINCT debt) < 2)),
        |v1 AS (SELECT count(*) AS v FROM
        |  (SELECT 1 FROM g GROUP BY nat, seg, band4
        |   HAVING count(*) < 3 OR count(DISTINCT debt) < 2)),
        |v2 AS (SELECT count(*) AS v FROM
        |  (SELECT 1 FROM g GROUP BY nat, band4
        |   HAVING count(*) < 3 OR count(DISTINCT debt) < 2)),
        |v3 AS (SELECT count(*) AS v FROM
        |  (SELECT 1 FROM g GROUP BY nat5, band4
        |   HAVING count(*) < 3 OR count(DISTINCT debt) < 2)),
        |lvl AS (SELECT CASE WHEN (SELECT v FROM v0) = 0 THEN 0
        |                    WHEN (SELECT v FROM v1) = 0 THEN 1
        |                    WHEN (SELECT v FROM v2) = 0 THEN 2
        |                    WHEN (SELECT v FROM v3) = 0 THEN 3
        |                    ELSE 4 END AS l)
        |SELECT c_custkey,
        |  CASE WHEN l <= 2 THEN nat WHEN l = 3 THEN nat5 ELSE 0 END AS nat,
        |  CASE WHEN l <= 1 THEN seg ELSE '*' END AS seg,
        |  CASE WHEN l = 0 THEN band WHEN l <= 3 THEN band4 ELSE 0 END AS band,
        |  debt,
        |  CAST(l AS BIGINT) AS gen_level
        |FROM g, lvl
        |ORDER BY c_custkey""".stripMargin,

    // the geometric mechanism re-derived from closed form: lattice
    // interval bounds hi(k) = 2^(41+k)-1 (k<0) / T-(2^(40-k)-1) (k>=0)
    // with T = 3*2^40-2; u = 60 bits of md5(group chr(1)-joined + salt)
    // mod T; noise = #{hi <= u} - 40. Every step is integer, so the
    // noisy counts match the engine bit-for-bit
    "pii_dp_counts" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS c
        |  FROM customer GROUP BY 1, 2),
        |lat AS (
        |  SELECT k, CASE WHEN k < 0
        |      THEN (1::BIGINT << (41 + k)) - 1
        |      ELSE (3 * (1::BIGINT << 40) - 2) - ((1::BIGINT << (40 - k)) - 1)
        |    END AS hi
        |  FROM (SELECT unnest(range(-40, 41)) AS k)),
        |u AS (
        |  SELECT c_nationkey, c_mktsegment, c,
        |    CAST(CAST(('0x' || substr(md5(
        |        CAST(c_nationkey AS VARCHAR) || chr(1) || c_mktsegment ||
        |        chr(1) || 'graft-dp-v1'), 1, 15)) AS UBIGINT)
        |      % 3298534883326 AS BIGINT) AS u
        |  FROM g)
        |SELECT c_nationkey, c_mktsegment,
        |  c + (SELECT count(*) FROM lat WHERE lat.hi <= u.u) - 40
        |    AS noisy_count
        |FROM u ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // the histogram release: same lattice, per-(type, bucket) draws
    "pii_dp_histogram" ->
      """WITH g AS (
        |  SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS bucket,
        |    count(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |lat AS (
        |  SELECT k, CASE WHEN k < 0
        |      THEN (1::BIGINT << (41 + k)) - 1
        |      ELSE (3 * (1::BIGINT << 40) - 2) - ((1::BIGINT << (40 - k)) - 1)
        |    END AS hi
        |  FROM (SELECT unnest(range(-40, 41)) AS k)),
        |u AS (
        |  SELECT event_type, bucket, c,
        |    CAST(CAST(('0x' || substr(md5(
        |        event_type || chr(1) || CAST(bucket AS VARCHAR) ||
        |        chr(1) || 'graft-dp-v1'), 1, 15)) AS UBIGINT)
        |      % 3298534883326 AS BIGINT) AS u
        |  FROM g)
        |SELECT event_type, bucket,
        |  c + (SELECT count(*) FROM lat WHERE lat.hi <= u.u) - 40
        |    AS noisy_count
        |FROM u ORDER BY event_type, bucket""".stripMargin,

    // same mechanism over the granular key, then the noisy-count >= 4
    // stability gate
    "pii_dp_counts_thresholded" ->
      """WITH g AS (
        |  SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT)
        |    AS bal_band, count(*) AS c
        |  FROM customer GROUP BY 1, 2),
        |lat AS (
        |  SELECT k, CASE WHEN k < 0
        |      THEN (1::BIGINT << (41 + k)) - 1
        |      ELSE (3 * (1::BIGINT << 40) - 2) - ((1::BIGINT << (40 - k)) - 1)
        |    END AS hi
        |  FROM (SELECT unnest(range(-40, 41)) AS k)),
        |u AS (
        |  SELECT c_nationkey, bal_band, c,
        |    CAST(CAST(('0x' || substr(md5(
        |        CAST(c_nationkey AS VARCHAR) || chr(1) ||
        |        CAST(bal_band AS VARCHAR) ||
        |        chr(1) || 'graft-dp-v1'), 1, 15)) AS UBIGINT)
        |      % 3298534883326 AS BIGINT) AS u
        |  FROM g),
        |r AS (
        |  SELECT c_nationkey, bal_band,
        |    c + (SELECT count(*) FROM lat WHERE lat.hi <= u.u) - 40
        |      AS noisy_count
        |  FROM u)
        |SELECT * FROM r WHERE noisy_count >= 4
        |ORDER BY c_nationkey, bal_band""".stripMargin,

    // identical synthetic votes, weighted-majority via row_number with
    // the weight-desc/label-asc tie-break, agreement on the ppm lattice
    "curation_labels_consolidated" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    'c' || CAST((doc_id * (2*j + 1) + j) % 3 AS VARCHAR) AS label,
        |    CAST(j + 1 AS BIGINT) AS w
        |  FROM documents, (VALUES (0),(1),(2)) AS t(j)),
        |lw AS (SELECT doc_id, label, sum(w) AS lw FROM v GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, label, lw,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY lw DESC, label) AS rn,
        |    sum(lw) OVER (PARTITION BY doc_id) AS total
        |  FROM lw)
        |SELECT doc_id, label, CAST(lw AS BIGINT) AS label_weight,
        |  CAST(total AS BIGINT) AS total_weight,
        |  CAST((lw * 1000000) // total AS BIGINT) AS agreement_ppm
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "mixture_sample" ->
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS DOUBLE) AS c FROM documents GROUP BY 1),
        |w AS (SELECT lang, c, pow(c, 0.5) AS w FROM c),
        |r AS (SELECT lang,
        |  least(1.0, 200.0 * w / (sum(w) OVER ()) / c) AS rate FROM w)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
        |    || 'graft-mixture'), 1, 8)) AS UBIGINT) / 4294967296.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,

    "curation_split" ->
      """WITH f AS (
        |  SELECT n_chars,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-split'), 1, 8))
        |      AS UBIGINT) / 4294967296.0 AS frac
        |  FROM documents)
        |SELECT CASE WHEN frac < 0.8 THEN 'train'
        |            WHEN frac < (0.8 + 0.1) THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "curation_sample_weighted" ->
      """WITH t AS (
        |  SELECT sum(CAST(n_chars AS DOUBLE)) AS tw FROM documents)
        |SELECT doc_id, source, n_chars
        |FROM documents, t
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-wsample'), 1, 8))
        |    AS UBIGINT) / 4294967296.0 < least(1.0, 30000.0 / tw)
        |ORDER BY doc_id""".stripMargin,

    "curation_shard" ->
      """WITH h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || 'graft-shard') AS hh
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, hh,
        |    CAST(CAST(('0x' || substr(hh, 1, 8)) AS BIGINT) % 8 AS INTEGER) AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) AS BIGINT) AS position
        |FROM s ORDER BY shard, position""".stripMargin,

    "curation_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || 'graft-sample'), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3 ORDER BY source, doc_id""".stripMargin,

    // the allocation replayed: integer floor quotas + largest-remainder
    // top-up (ties on lang), then the same md5 rank within each stratum
    // exact-rank per-group percentile cut: ceil keep-count in integer
    // arithmetic, (score desc, id asc) ordering — deterministic on ties
    "curation_prune_percentile" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (
        |      PARTITION BY source ORDER BY n_chars DESC, doc_id)
        |      AS rank_in_group,
        |    count(*) OVER (PARTITION BY source) AS group_size
        |  FROM documents)
        |SELECT source, doc_id, n_chars, rank_in_group, group_size
        |FROM r WHERE rank_in_group <= (40 * group_size + 99) // 100
        |ORDER BY source, doc_id""".stripMargin,

    // the budget cut replayed: one cumulative-sum window in the same
    // (score desc, id) order, kept rows = inclusive running total <= 600
    "curation_select_budget" ->
      """WITH d AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, n_chars, n_tokens,
        |    CAST(row_number() OVER (
        |      PARTITION BY source ORDER BY n_chars DESC, doc_id)
        |      AS BIGINT) AS rank_in_group,
        |    CAST(sum(n_tokens) OVER (
        |      PARTITION BY source ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_tokens
        |  FROM d)
        |SELECT source, doc_id, n_chars, n_tokens, rank_in_group, cum_tokens
        |FROM r WHERE cum_tokens <= 600
        |ORDER BY source, doc_id""".stripMargin,

    "curation_sample_stratified" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |g AS (SELECT sum(n) AS tot FROM c),
        |q AS (
        |  SELECT lang, (100 * n) // tot AS fl, (100 * n) % tot AS rem
        |  FROM c, g),
        |q2 AS (
        |  SELECT lang, fl, rem,
        |    100 - sum(fl) OVER () AS leftover,
        |    row_number() OVER (ORDER BY rem DESC, lang) AS rk
        |  FROM q),
        |quota AS (
        |  SELECT lang,
        |    fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota
        |  FROM q2),
        |r AS (
        |  SELECT d.doc_id, d.lang, quota,
        |    row_number() OVER (PARTITION BY d.lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'graft-sample'), doc_id) AS rn
        |  FROM documents d JOIN quota USING (lang))
        |SELECT doc_id, lang FROM r WHERE rn <= quota
        |ORDER BY lang, doc_id""".stripMargin,

    "curation_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END AS sh
        |  FROM documents),
        |train AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE id % 2 = 0),
        |test AS (SELECT id, unnest(list_distinct(sh)) AS s FROM sh WHERE id % 2 <> 0)
        |SELECT t.id AS doc_id, count(*) AS n_shared_shingles
        |FROM test t JOIN train tr ON t.s = tr.s
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // fuzzy decontamination replayed in closed form: md5 MinHash banding
    // across the train/test split, exact Jaccard verify at 0.5, best
    // match by the same integer (rounded-j desc, test_id asc) order key
    "curation_decontam_fuzzy_oracled" ->
      """WITH sh AS (
        |  SELECT doc_id AS id, doc_id % 2 = 0 AS is_train,
        |    list_distinct(CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END) AS shd
        |  FROM documents WHERE doc_id <= 300),
        |bk AS (
        |  SELECT id, is_train, unnest(list_transform(range(32), b ->
        |    md5(b::VARCHAR || '|' || array_to_string(
        |      list_transform(range(b*2, b*2+2), i ->
        |        list_min(list_transform(shd, s -> md5(i::VARCHAR || ':' || s)))), '|')))) AS band
        |  FROM sh),
        |cand AS (
        |  SELECT DISTINCT t.id AS train_id, e.id AS test_id
        |  FROM bk t JOIN bk e ON t.band = e.band
        |  WHERE t.is_train AND NOT e.is_train),
        |ver AS (
        |  SELECT c.train_id, c.test_id,
        |    round(len(list_distinct(list_intersect(a.shd, b.shd))) * 1.0 /
        |          len(list_distinct(a.shd || b.shd)), 4) AS j
        |  FROM cand c JOIN sh a ON a.id = c.train_id
        |              JOIN sh b ON b.id = c.test_id)
        |SELECT train_id AS doc_id,
        |  CAST(count(*) AS BIGINT) AS n_test_matches,
        |  min_by(test_id,
        |    (10000 - CAST(round(j*10000) AS BIGINT)) * 10000000 + test_id)
        |    AS best_test_id,
        |  max(j) AS best_jaccard
        |FROM ver WHERE j >= 0.5
        |GROUP BY train_id ORDER BY doc_id""".stripMargin,

    // portable simhash recomputed in closed form: per-token md5 → per-bit
    // ±1 vote (bit b = bit (3-b%4) of hex nibble b/4, sign rule sum>0) →
    // 64-char bitstring → 16-bit chunk blocking → Hamming verify
    "simhash_portable_pairs" ->
      """WITH th AS (
        |  SELECT doc_id AS id,
        |    list_transform(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> md5(t)) AS th
        |  FROM documents WHERE doc_id <= 300),
        |bits AS (
        |  SELECT id, array_to_string(list_transform(range(64), b ->
        |    CASE WHEN list_sum(list_transform(th, h ->
        |      CASE WHEN ((CAST('0x' || substr(h, CAST(b // 4 AS INT) + 1, 1) AS INT)
        |                  >> CAST(3 - b % 4 AS INT)) & 1) = 1
        |        THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END), '') AS bits
        |  FROM th),
        |ck AS (
        |  SELECT id, bits, unnest(list_transform(range(4), c ->
        |    c::VARCHAR || ':' || substr(bits, CAST(c * 16 + 1 AS INT), 16))) AS chunk
        |  FROM bits),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM ck a JOIN ck b ON a.chunk = b.chunk AND a.id < b.id)
        |SELECT id_a, id_b, CAST(len(list_filter(range(1, 65), i ->
        |    substr(ba.bits, CAST(i AS INT), 1) <> substr(bb.bits, CAST(i AS INT), 1)))
        |  AS INTEGER) AS hamming
        |FROM cand JOIN bits ba ON ba.id = id_a JOIN bits bb ON bb.id = id_b
        |WHERE len(list_filter(range(1, 65), i ->
        |    substr(ba.bits, CAST(i AS INT), 1) <> substr(bb.bits, CAST(i AS INT), 1))) <= 6
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_simhash_oracled" ->
      """WITH th AS (
        |  SELECT doc_id AS id,
        |    list_transform(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> md5(t)) AS th
        |  FROM documents WHERE doc_id <= 300),
        |bits AS (
        |  SELECT id, array_to_string(list_transform(range(64), b ->
        |    CASE WHEN list_sum(list_transform(th, h ->
        |      CASE WHEN ((CAST('0x' || substr(h, CAST(b // 4 AS INT) + 1, 1) AS INT)
        |                  >> CAST(3 - b % 4 AS INT)) & 1) = 1
        |        THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END), '') AS bits
        |  FROM th),
        |ck AS (
        |  SELECT id, bits, unnest(list_transform(range(4), c ->
        |    c::VARCHAR || ':' || substr(bits, CAST(c * 16 + 1 AS INT), 16))) AS chunk
        |  FROM bits),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM ck a JOIN ck b ON a.chunk = b.chunk AND a.id < b.id),
        |dup AS (
        |  SELECT DISTINCT c.id_b
        |  FROM cand c JOIN bits ba ON ba.id = c.id_a JOIN bits bb ON bb.id = c.id_b
        |  WHERE len(list_filter(range(1, 65), i ->
        |    substr(ba.bits, CAST(i AS INT), 1) <> substr(bb.bits, CAST(i AS INT), 1))) <= 6)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id <= 300 AND doc_id NOT IN (SELECT id_b FROM dup)
        |ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(toks) - 1),
        |        i -> toks[i+1] || ' ' || toks[i+2]) END AS bgs
        |  FROM t),
        |top AS (
        |  SELECT doc_id, max(n) AS best FROM (
        |    SELECT doc_id, count(*) AS n
        |    FROM (SELECT doc_id, unnest(bgs) AS g FROM bg)
        |    GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT bg.doc_id,
        |  round(CASE WHEN len(bg.toks) = 0 THEN 0
        |    ELSE 1.0 - len(list_distinct(bg.toks)) * 1.0 / len(bg.toks) END, 4)
        |    AS dup_token_frac,
        |  round(coalesce(top.best * 1.0 / nullif(len(bg.bgs), 0), 0), 4)
        |    AS top_bigram_frac
        |FROM bg LEFT JOIN top ON bg.doc_id = top.doc_id
        |ORDER BY bg.doc_id""".stripMargin,

    "curation_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    len(string_split_regex(trim(text), '\s+')) AS n
        |  FROM documents),
        |w AS (SELECT doc_id, toks, n, unnest(range(0, greatest(n, 1), 12)) AS s FROM t)
        |SELECT doc_id,
        |  CAST(s // 12 AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[CAST(s + 1 AS INT):CAST(s + 16 AS INT)], ' ') AS chunk_text,
        |  CAST(least(16, n - s) AS INTEGER) AS n_tokens
        |FROM w ORDER BY doc_id, chunk_idx""".stripMargin,

    // the same greedy fold (id order, close a bin when the next doc
    // overflows the budget, oversized docs get their own bin) replayed as
    // a per-shard recursive CTE
    "curation_packed" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, CAST(doc_id // 100 AS BIGINT) AS shard,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok,
        |    row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS rn
        |  FROM documents),
        |g AS (
        |  SELECT shard, rn, doc_id, tok, CAST(0 AS BIGINT) AS bin, tok AS used
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.shard, d.rn, d.doc_id, d.tok,
        |    CASE WHEN g.used + d.tok > 128 AND g.used > 0
        |      THEN g.bin + 1 ELSE g.bin END,
        |    CASE WHEN g.used + d.tok > 128 AND g.used > 0
        |      THEN d.tok ELSE g.used + d.tok END
        |  FROM g JOIN d ON d.shard = g.shard AND d.rn = g.rn + 1)
        |SELECT doc_id, shard, bin FROM g ORDER BY doc_id""".stripMargin,

    "curation_pipeline_e2e" ->
      """WITH sh AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END AS sh
        |  FROM documents),
        |dedup AS (
        |  SELECT min(doc_id) AS doc_id FROM documents WHERE doc_id % 10 <> 7
        |  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
        |qual AS (
        |  SELECT s.doc_id, s.sh FROM sh s JOIN dedup d ON s.doc_id = d.doc_id
        |  WHERE (
        |    CASE WHEN length(trim(s.text)) = 0 THEN 0.0
        |         WHEN len(string_split_regex(trim(s.text), '\s+')) BETWEEN 10 AND 1000 THEN 1.0
        |         ELSE 0.5 END +
        |    CASE WHEN length(s.text) = 0 OR
        |      length(regexp_replace(s.text, '[A-Za-z0-9\s]', '', 'g')) * 1.0 / length(s.text) <= 0.2
        |      THEN 1.0 ELSE 0.0 END +
        |    CASE WHEN length(trim(s.text)) > 0 AND
        |      len(list_filter(string_split_regex(lower(trim(s.text)), '\s+'),
        |        x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) * 1.0 /
        |      len(string_split_regex(trim(s.text), '\s+')) >= 0.05
        |      THEN 1.0 ELSE 0.0 END) / 3.0 >= 0.8),
        |evsh AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 10 = 7),
        |contam AS (
        |  SELECT q.doc_id FROM
        |    (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM qual) q
        |  JOIN evsh e ON q.s = e.s GROUP BY q.doc_id HAVING count(*) >= 10),
        |clean AS (
        |  SELECT doc_id FROM qual
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contam))
        |SELECT doc_id,
        |  CASE WHEN frac < 0.9 THEN 'train'
        |       WHEN frac < (0.9 + 0.05) THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-split'), 1, 8))
        |      AS UBIGINT) / 4294967296.0 AS frac
        |  FROM clean)
        |ORDER BY doc_id""".stripMargin,

    // full DSIR replay: unigram+bigram features, add-1 smoothed target
    // vs raw models, mil-scaled floor(ln) weights (the NB ulp class),
    // integer doc scores, ranked top-100 take
    "curation_dsir" ->
      """WITH base AS (
        |  SELECT doc_id AS id, (lang = 'en') AS t,
        |    string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |toks AS (
        |  SELECT id, t, term FROM (
        |    SELECT id, t, unnest(w) AS term FROM base
        |    UNION ALL
        |    SELECT id, t, w[i-1] || ' ' || w[i] AS term
        |    FROM base, unnest(range(2, len(w)+1)) AS u(i))
        |  WHERE term <> ''),
        |counts AS (
        |  SELECT term,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS cr
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr, count(*) AS v FROM counts),
        |wt AS (
        |  SELECT term,
        |    CAST(floor(ln((ct + 1) * 1.0 / (tt + v)) * 1e6) AS BIGINT) -
        |    CAST(floor(ln((cr + 1) * 1.0 / (tr + v)) * 1e6) AS BIGINT) AS w_mil
        |  FROM counts, tot),
        |scored AS (
        |  SELECT k.id, CAST(sum(w.w_mil) AS BIGINT) AS weight_mil,
        |    CAST(count(*) AS BIGINT) AS n_feats
        |  FROM toks k JOIN wt w ON w.term = k.term
        |  WHERE NOT k.t GROUP BY 1)
        |SELECT id AS doc_id, weight_mil, n_feats, rk FROM (
        |  SELECT id, weight_mil, n_feats,
        |    CAST(row_number() OVER (ORDER BY weight_mil DESC, id) AS BIGINT) AS rk
        |  FROM scored)
        |WHERE rk <= 100 ORDER BY doc_id""".stripMargin,

    // hashed-feature DSIR replay: identical model/score/rank pipeline,
    // but every term first maps to md5-derived bucket
    // `('0x'||substr(md5(term),1,8))::UBIGINT % 10000` — the closed-form
    // twin of the Spark md5 bucket mode
    "curation_dsir_hashed" ->
      """WITH base AS (
        |  SELECT doc_id AS id, (lang = 'en') AS t,
        |    string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |toks AS (
        |  SELECT id, t,
        |    CAST(CAST(('0x' || substr(md5(term), 1, 8)) AS UBIGINT) % 10000
        |      AS BIGINT) AS term
        |  FROM (
        |    SELECT id, t, unnest(w) AS term FROM base
        |    UNION ALL
        |    SELECT id, t, w[i-1] || ' ' || w[i] AS term
        |    FROM base, unnest(range(2, len(w)+1)) AS u(i))
        |  WHERE term <> ''),
        |counts AS (
        |  SELECT term,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS cr
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr, count(*) AS v FROM counts),
        |wt AS (
        |  SELECT term,
        |    CAST(floor(ln((ct + 1) * 1.0 / (tt + v)) * 1e6) AS BIGINT) -
        |    CAST(floor(ln((cr + 1) * 1.0 / (tr + v)) * 1e6) AS BIGINT) AS w_mil
        |  FROM counts, tot),
        |scored AS (
        |  SELECT k.id, CAST(sum(w.w_mil) AS BIGINT) AS weight_mil,
        |    CAST(count(*) AS BIGINT) AS n_feats
        |  FROM toks k JOIN wt w ON w.term = k.term
        |  WHERE NOT k.t GROUP BY 1)
        |SELECT id AS doc_id, weight_mil, n_feats, rk FROM (
        |  SELECT id, weight_mil, n_feats,
        |    CAST(row_number() OVER (ORDER BY weight_mil DESC, id) AS BIGINT) AS rk
        |  FROM scored)
        |WHERE rk <= 100 ORDER BY doc_id""".stripMargin,

    "curation_contamination_strings" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END AS sh
        |  FROM documents WHERE doc_id <= 200),
        |train AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE id % 2 = 0),
        |test AS (SELECT id, unnest(list_distinct(sh)) AS s FROM sh WHERE id % 2 <> 0)
        |SELECT t.id AS doc_id, count(*) AS n_shared_shingles
        |FROM test t JOIN train tr ON t.s = tr.s
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents GROUP BY 2 ORDER BY doc_id""".stripMargin,

    // the drift metric replayed: same binning, same midpoint split,
    // same exact-integer TVD numerator (HUGEINT sums cast at the end)
    "monitor_drift" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    LEAST(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT min(day) AS mn, max(day) AS mx FROM ev),
        |w AS (
        |  SELECT event_type, bin,
        |    day <= mn + CAST(date_diff('day', mn, mx) // 2 AS INTEGER) AS base
        |  FROM ev, b),
        |c AS (
        |  SELECT event_type, bin,
        |    sum(CASE WHEN base THEN 1 ELSE 0 END) AS cb,
        |    sum(CASE WHEN base THEN 0 ELSE 1 END) AS cc
        |  FROM w GROUP BY 1, 2),
        |c2 AS (
        |  SELECT *,
        |    sum(cb) OVER (PARTITION BY event_type) AS nb,
        |    sum(cc) OVER (PARTITION BY event_type) AS nc
        |  FROM c)
        |SELECT event_type,
        |  CAST(max(nb) AS BIGINT) AS n_base,
        |  CAST(max(nc) AS BIGINT) AS n_cur,
        |  round(CAST(sum(abs(cb * nc - cc * nb)) AS DOUBLE) /
        |    (CAST(max(nb) AS DOUBLE) * CAST(max(nc) AS DOUBLE) * 2.0), 4) AS tvd
        |FROM c2 GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Hampel MAD fences replayed with window functions: both medians
    // are the value at sorted position (n+1) div 2 — copied data
    // values, no interpolation — and the flag predicate is the same
    // IEEE |v−med| > 5·mad both engines evaluate identically
    "monitor_anomaly" ->
      """WITH v AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE value IS NOT NULL),
        |r1 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM v),
        |med AS (SELECT event_type, value AS med FROM r1 WHERE rn = (n + 1) // 2),
        |d AS (
        |  SELECT v.*, med.med, abs(v.value - med.med) AS dev
        |  FROM v JOIN med USING (event_type)),
        |r2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d),
        |mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, d.event_id, round(d.value, 4) AS value,
        |  round(d.med, 4) AS med, round(m.mad, 4) AS mad
        |FROM d JOIN mad m USING (event_type)
        |WHERE d.dev > m.mad * 5
        |ORDER BY 1, 2""".stripMargin,

    "monitor_skew" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS total FROM events),
        |top AS (
        |  SELECT user_id, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, user_id) AS rank
        |  FROM c)
        |SELECT rank, user_id, cnt,
        |  round(CAST(cnt AS DOUBLE) / total, 4) AS share
        |FROM top, t WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // same oracle as monitor_drift verbatim: the stored-baseline path
    // must be a pure round trip of the single-pass computation
    "monitor_drift_stored" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    LEAST(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT min(day) AS mn, max(day) AS mx FROM ev),
        |w AS (
        |  SELECT event_type, bin,
        |    day <= mn + CAST(date_diff('day', mn, mx) // 2 AS INTEGER) AS base
        |  FROM ev, b),
        |c AS (
        |  SELECT event_type, bin,
        |    sum(CASE WHEN base THEN 1 ELSE 0 END) AS cb,
        |    sum(CASE WHEN base THEN 0 ELSE 1 END) AS cc
        |  FROM w GROUP BY 1, 2),
        |c2 AS (
        |  SELECT *,
        |    sum(cb) OVER (PARTITION BY event_type) AS nb,
        |    sum(cc) OVER (PARTITION BY event_type) AS nc
        |  FROM c)
        |SELECT event_type,
        |  CAST(max(nb) AS BIGINT) AS n_base,
        |  CAST(max(nc) AS BIGINT) AS n_cur,
        |  round(CAST(sum(abs(cb * nc - cc * nb)) AS DOUBLE) /
        |    (CAST(max(nb) AS DOUBLE) * CAST(max(nc) AS DOUBLE) * 2.0), 4) AS tvd
        |FROM c2 GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same oracle as monitor_drift verbatim — what the hash equality
    // then verifies is the streaming path's exactly-once accumulation
    "stream_drift_oracled" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    LEAST(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT min(day) AS mn, max(day) AS mx FROM ev),
        |w AS (
        |  SELECT event_type, bin,
        |    day <= mn + CAST(date_diff('day', mn, mx) // 2 AS INTEGER) AS base
        |  FROM ev, b),
        |c AS (
        |  SELECT event_type, bin,
        |    sum(CASE WHEN base THEN 1 ELSE 0 END) AS cb,
        |    sum(CASE WHEN base THEN 0 ELSE 1 END) AS cc
        |  FROM w GROUP BY 1, 2),
        |c2 AS (
        |  SELECT *,
        |    sum(cb) OVER (PARTITION BY event_type) AS nb,
        |    sum(cc) OVER (PARTITION BY event_type) AS nc
        |  FROM c)
        |SELECT event_type,
        |  CAST(max(nb) AS BIGINT) AS n_base,
        |  CAST(max(nc) AS BIGINT) AS n_cur,
        |  round(CAST(sum(abs(cb * nc - cc * nb)) AS DOUBLE) /
        |    (CAST(max(nb) AS DOUBLE) * CAST(max(nc) AS DOUBLE) * 2.0), 4) AS tvd
        |FROM c2 GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the streaming Hampel monitor's batch closed form: the same day
    // split as stream_drift, lower-median fences from the baseline half
    // (position (n+1)//2 — values copied from data, one IEEE subtract
    // for deviations), violations = |v - med| > mad*5 over the current
    // half, inner-joined (no fence, no verdict)
    "stream_anomaly_oracled" ->
      """WITH ev AS (
        |  SELECT event_id AS id, event_type, value, CAST(ts AS DATE) AS day
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT min(day) AS mn, max(day) AS mx FROM ev),
        |w AS (
        |  SELECT id, event_type, value,
        |    day <= mn + CAST(date_diff('day', mn, mx) // 2 AS INTEGER) AS base
        |  FROM ev, b),
        |med AS (
        |  SELECT event_type, value AS med FROM (
        |    SELECT event_type, value,
        |      row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM w WHERE base)
        |  WHERE rn = (n + 1) // 2),
        |mad AS (
        |  SELECT event_type, d AS mad FROM (
        |    SELECT v.event_type, abs(v.value - m.med) AS d,
        |      row_number() OVER (PARTITION BY v.event_type
        |        ORDER BY abs(v.value - m.med)) AS rn,
        |      count(*) OVER (PARTITION BY v.event_type) AS n
        |    FROM w v JOIN med m USING (event_type) WHERE v.base)
        |  WHERE rn = (n + 1) // 2)
        |SELECT c.event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN abs(c.value - m.med) > ma.mad * 5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS violations
        |FROM w c JOIN med m USING (event_type) JOIN mad ma USING (event_type)
        |WHERE NOT c.base
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the survivor policy replayed: same decorated corpus, row_number
    // over (length DESC, doc_id ASC) within each normalized fingerprint
    "dedup_keep_best" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, '  ' || text || '  '
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, upper(text)
        |  FROM documents WHERE doc_id % 5 = 0),
        |ranked AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    row_number() OVER (
        |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |      ORDER BY length(text) DESC, doc_id) AS rn
        |  FROM corpus)
        |SELECT doc_id, fp FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "embedding_centroids" ->
      """SELECT label, pos,
        |  CAST(sum(CAST(floor(v * 1000) AS BIGINT)) AS BIGINT) AS sum_qv,
        |  count(*) AS n
        |FROM (
        |  SELECT label,
        |    unnest(range(len(embedding))) AS pos,
        |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
        |  FROM embeddings)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "event_attribution" ->
      """WITH conv AS (
        |  SELECT user_id, event_id AS conv_id, epoch_us(ts) AS conv_us
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id, event_id AS touch_id, epoch_us(ts) AS touch_us
        |  FROM events WHERE event_type = 'click'),
        |cand AS (
        |  SELECT c.conv_id, t.touch_id, t.touch_us, c.conv_us,
        |    row_number() OVER (PARTITION BY c.conv_id
        |      ORDER BY t.touch_us DESC, t.touch_id) AS rn
        |  FROM conv c JOIN t ON c.user_id = t.user_id
        |    AND t.touch_us >= c.conv_us - 3600000000
        |    AND t.touch_us < c.conv_us)
        |SELECT c.conv_id, c.user_id, a.touch_id,
        |  a.conv_us - a.touch_us AS gap_us
        |FROM conv c LEFT JOIN (SELECT * FROM cand WHERE rn = 1) a
        |  USING (conv_id)
        |ORDER BY conv_id""".stripMargin,

    // as-of = the rn=1 row of the per-purchase DESC ranking; the LEFT
    // JOIN keeps purchases with no prior click as NULL rows (rn=1 on
    // the single null-extended row)
    "asof_join_events" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS click_us,
        |    event_id AS click_id, value
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.event_id, p.user_id, p.ts_us, c.click_us, c.click_id,
        |    c.value,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.click_us DESC, c.click_id DESC) AS rn
        |  FROM p LEFT JOIN c
        |    ON c.user_id = p.user_id AND c.click_us <= p.ts_us)
        |SELECT event_id, user_id, ts_us, click_us, click_id,
        |  round(value, 4) AS click_value
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "asof_join_forward" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS conv_us, event_id AS conv_id
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.event_id, c.user_id, c.ts_us, p.conv_us, p.conv_id,
        |    row_number() OVER (PARTITION BY c.event_id
        |      ORDER BY p.conv_us ASC, p.conv_id ASC) AS rn
        |  FROM c LEFT JOIN p
        |    ON p.user_id = c.user_id AND p.conv_us >= c.ts_us)
        |SELECT event_id, user_id,
        |  CASE WHEN conv_us - ts_us > 172800000000 THEN NULL
        |       ELSE conv_id END AS conv_id,
        |  CASE WHEN conv_us - ts_us > 172800000000 THEN NULL
        |       ELSE conv_us - ts_us END AS gap_us
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "asof_join_tolerance" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS click_us, event_id AS click_id
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.event_id, p.user_id, p.ts_us, c.click_us, c.click_id,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.click_us DESC, c.click_id DESC) AS rn
        |  FROM p LEFT JOIN c
        |    ON c.user_id = p.user_id AND c.click_us <= p.ts_us)
        |SELECT event_id, user_id,
        |  CASE WHEN ts_us - click_us > 86400000000 THEN NULL
        |       ELSE click_id END AS click_id
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "curation_split_temporal" ->
      """SELECT event_id,
        |  CASE WHEN ts <= TIMESTAMP '2024-01-15 00:00:00' THEN 'train'
        |       WHEN ts > TIMESTAMP '2024-01-17 00:00:00' THEN 'test'
        |       ELSE 'embargo' END AS split
        |FROM events ORDER BY event_id""".stripMargin,

    "contrastive_pairs" ->
      s"""WITH ${duckNpCte("embeddings")},
        |bk AS (
        |  SELECT vec_id AS id, embedding, $duckBucketBitsAdaptive AS bucket FROM embeddings),
        |ok AS (
        |  SELECT bucket FROM bk GROUP BY bucket
        |  HAVING count(*) > 1 AND count(*) <= 10000),
        |cand AS (
        |  SELECT a.id AS anchor_id, b.id AS cand_id,
        |    a.embedding AS va, b.embedding AS vb
        |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id <> b.id
        |  WHERE a.bucket IN (SELECT bucket FROM ok)),
        |pos AS (
        |  SELECT anchor_id, cand_id AS pos_id, cos_pos FROM (
        |    SELECT anchor_id, cand_id, round(${duckCos("va", "vb")}, 4) AS cos_pos,
        |      row_number() OVER (PARTITION BY anchor_id
        |        ORDER BY round(${duckCos("va", "vb")}, 4) DESC, cand_id) AS rn
        |    FROM cand) WHERE rn = 1),
        |ordr AS (
        |  SELECT id, md5('neg:' || CAST(id AS VARCHAR)) AS h,
        |    CAST(('0x' || substr(md5('neg:' || CAST(id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS b
        |  FROM bk),
        |neg AS (
        |  SELECT anchor_id, neg_id FROM (
        |    SELECT id AS anchor_id,
        |      COALESCE(lead(id) OVER (PARTITION BY b ORDER BY h, id),
        |        first_value(id) OVER (PARTITION BY b ORDER BY h, id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS neg_id
        |    FROM ordr)
        |  WHERE neg_id <> anchor_id)
        |SELECT p.anchor_id, p.pos_id, n.neg_id, p.cos_pos + 0.0 AS cos_pos,
        |  round(${duckCos("x.embedding", "y.embedding")}, 4) + 0.0 AS cos_neg
        |FROM pos p JOIN neg n USING (anchor_id)
        |JOIN bk x ON x.id = p.anchor_id
        |JOIN bk y ON y.id = n.neg_id
        |ORDER BY anchor_id""".stripMargin,

    // hard triplets: per-anchor candidates capped at 64 by md5 order
    // (the Spark side's maxCandidatesPerAnchor — deterministic,
    // similarity-unbiased), then the scored relation is computed once
    // and both picks (pos = rn=1 overall, hard = rn=1 below threshold)
    // rank the same rounded cosines with id tie-breaks
    "contrastive_hard" ->
      s"""WITH ${duckNpCte("embeddings")},
        |bk AS (
        |  SELECT vec_id AS id, embedding, $duckBucketBitsAdaptive AS bucket FROM embeddings),
        |ok AS (
        |  SELECT bucket FROM bk GROUP BY bucket
        |  HAVING count(*) > 1 AND count(*) <= 10000),
        |capped AS (
        |  SELECT anchor_id, cand_id, va, vb FROM (
        |    SELECT a.id AS anchor_id, b.id AS cand_id,
        |      a.embedding AS va, b.embedding AS vb,
        |      row_number() OVER (PARTITION BY a.id
        |        ORDER BY md5('hn:' || a.id::VARCHAR || ':' || b.id::VARCHAR),
        |          b.id) AS crn
        |    FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id <> b.id
        |    WHERE a.bucket IN (SELECT bucket FROM ok))
        |  WHERE crn <= 64),
        |scored AS (
        |  SELECT anchor_id, cand_id,
        |    round(${duckCos("va", "vb")}, 4) AS cos
        |  FROM capped),
        |pos AS (
        |  SELECT anchor_id, cand_id AS pos_id, cos AS cos_pos FROM (
        |    SELECT anchor_id, cand_id, cos,
        |      row_number() OVER (PARTITION BY anchor_id
        |        ORDER BY cos DESC, cand_id) AS rn
        |    FROM scored) WHERE rn = 1),
        |hard AS (
        |  SELECT anchor_id, cand_id AS hard_neg_id, cos AS cos_neg FROM (
        |    SELECT anchor_id, cand_id, cos,
        |      row_number() OVER (PARTITION BY anchor_id
        |        ORDER BY cos DESC, cand_id) AS rn
        |    FROM scored WHERE cos < 0.98) WHERE rn = 1)
        |SELECT p.anchor_id, p.pos_id, p.cos_pos + 0.0 AS cos_pos,
        |  h.hard_neg_id, h.cos_neg + 0.0 AS cos_neg
        |FROM pos p JOIN hard h USING (anchor_id)
        |ORDER BY anchor_id""".stripMargin,

    // integer projection: same md5 component algebra as the LSH bucket
    // bits ('proj:' namespace), emitting the dot instead of its sign
    "embedding_project_oracled" ->
      """SELECT vec_id, CAST(p AS INTEGER) AS pos,
        |  CAST(list_sum(list_transform(range(1, len(embedding)+1), i ->
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
        |    (CAST(('0x' || substr(md5('proj:' || p::VARCHAR || ':' || (i-1)::VARCHAR), 1, 8)) AS BIGINT) % 9 - 4)
        |  )) AS BIGINT) AS dot
        |FROM embeddings, range(8) t(p)
        |ORDER BY vec_id, pos""".stripMargin,

    "embedding_quantized" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
        |      THEN 0.0
        |      ELSE 127.0 / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
        |    END AS qs
        |  FROM embeddings),
        |qq AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * qs) AS INT)) AS q
        |  FROM q),
        |j AS (
        |  SELECT a.vec_id, a.embedding AS va, b.embedding AS vb, a.q AS qa, b.q AS qb
        |  FROM qq a JOIN qq b ON b.vec_id = a.vec_id + 1),
        |d AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(range(1, len(qa) + 1),
        |      i -> CAST(qa[i] AS BIGINT) * CAST(qb[i] AS BIGINT))) AS BIGINT) AS dot_q,
        |    CAST(list_sum(list_transform(qa, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS na,
        |    CAST(list_sum(list_transform(qb, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS nb,
        |    list_sum(list_transform(range(1, len(va) + 1),
        |      i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(va, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(vb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosx
        |  FROM j)
        |SELECT vec_id, dot_q,
        |  round(CASE WHEN na * nb = 0 THEN 0.0
        |    ELSE CAST(dot_q AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END, 4) AS cos_q,
        |  round(cosx, 4) AS cos_exact
        |FROM d ORDER BY vec_id""".stripMargin,

    "dedup_incremental" ->
      """WITH batch AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 5 = 0 THEN b.text ELSE d.text END AS text,
        |    d.source
        |  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - 250
        |  WHERE d.doc_id >= 250),
        |seen AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id < 250),
        |fresh AS (
        |  SELECT min(doc_id) AS doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM batch GROUP BY 2)
        |SELECT f.doc_id, b.source FROM fresh f
        |JOIN batch b ON b.doc_id = f.doc_id
        |WHERE f.fp NOT IN (SELECT fp FROM seen)
        |ORDER BY f.doc_id""".stripMargin,

    // same shingle + band-key algebra as minhash_band_candidates, with
    // 16 bands x 4 rows; agreement >= 6 bands accepts a stored near-dup
    "dedup_incremental_minhash" ->
      """WITH batch AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 5 = 0 THEN b.text || ' ' || b.text
        |      ELSE d.text END AS text,
        |    d.source
        |  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - 250
        |  WHERE d.doc_id >= 250 AND d.doc_id < 750),
        |ssh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END) AS shd
        |  FROM documents WHERE doc_id < 250),
        |sbk AS (
        |  SELECT id, unnest(list_transform(range(16), b ->
        |    md5(b::VARCHAR || '|' || array_to_string(
        |      list_transform(range(b*4, b*4+4), i ->
        |        list_min(list_transform(shd, s -> md5(i::VARCHAR || ':' || s)))), '|')))) AS band
        |  FROM ssh),
        |ok AS (SELECT band FROM sbk GROUP BY band HAVING count(*) <= 10000),
        |bsh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END) AS shd
        |  FROM batch),
        |bbk AS (
        |  SELECT id, unnest(list_transform(range(16), b ->
        |    md5(b::VARCHAR || '|' || array_to_string(
        |      list_transform(range(b*4, b*4+4), i ->
        |        list_min(list_transform(shd, s -> md5(i::VARCHAR || ':' || s)))), '|')))) AS band
        |  FROM bsh),
        |m AS (
        |  SELECT bbk.id FROM bbk
        |  JOIN (SELECT band, id AS sid FROM sbk
        |        WHERE band IN (SELECT band FROM ok)) st USING (band)
        |  GROUP BY bbk.id, st.sid HAVING count(*) >= 6)
        |SELECT doc_id, source FROM batch
        |WHERE doc_id NOT IN (SELECT DISTINCT id FROM m)
        |ORDER BY doc_id""".stripMargin,

    // the exact-admission DEFINITION: batch × ingested-corpus brute
    // Jaccard at the integer threshold — the prefix index is an
    // implementation detail the oracle never needs
    "dedup_incremental_jaccard" ->
      """WITH batch AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 5 = 0 THEN b.text || ' ' || b.text
        |      ELSE d.text END AS text,
        |    d.source
        |  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - 250
        |  WHERE d.doc_id >= 250 AND d.doc_id < 400),
        |ssh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END) AS sh
        |  FROM documents WHERE doc_id < 250),
        |bsh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END) AS sh
        |  FROM batch),
        |dup AS (
        |  SELECT DISTINCT b.id FROM bsh b JOIN ssh s
        |  ON len(list_intersect(b.sh, s.sh)) * 2 >=
        |     (len(b.sh) + len(s.sh) - len(list_intersect(b.sh, s.sh))) * 1)
        |SELECT doc_id, source FROM batch
        |WHERE doc_id NOT IN (SELECT id FROM dup)
        |ORDER BY doc_id""".stripMargin,

    // from-scratch closure over base ∪ every streamed slice (docs
    // < 750): same banding/pair/closure algebra as
    // dedup_cluster_incremental, no batch transform — the streaming
    // fold must land exactly here
    "stream_clusters_oracled" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END) AS shd
        |  FROM documents WHERE doc_id < 750),
        |bk AS (
        |  SELECT id, unnest(list_transform(range(16), b ->
        |    md5(b::VARCHAR || '|' || array_to_string(
        |      list_transform(range(b*4, b*4+4), i ->
        |        list_min(list_transform(shd, s -> md5(i::VARCHAR || ':' || s)))), '|')))) AS band
        |  FROM sh),
        |ok AS (SELECT band FROM bk GROUP BY band HAVING count(*) <= 10000),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM bk a JOIN bk b USING (band)
        |  WHERE a.id < b.id AND band IN (SELECT band FROM ok)
        |  GROUP BY a.id, b.id HAVING count(*) >= 6),
        |sym AS (SELECT id_a AS u, id_b AS v FROM pairs
        |        UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(node, lab) AS (
        |  SELECT id, id FROM sh
        |  UNION
        |  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node)
        |SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
        |ORDER BY doc_id""".stripMargin,

    // the full NB pipeline in closed form: training counts, add-1
    // smoothing, floor(ln·1e6) model weights, integer score sums, and
    // the (score DESC, label ASC) argmax — floor (not round) because
    // round's half-away vs half-up disagree on negatives across engines
    "text_classify_nb" ->
      """WITH train AS (
        |  SELECT lang AS label, text FROM documents WHERE doc_id < 250),
        |ttok AS (
        |  SELECT label, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS term
        |  FROM train),
        |counts AS (SELECT term, label, count(*) AS c FROM ttok GROUP BY 1, 2),
        |v AS (SELECT count(DISTINCT term) AS v FROM counts),
        |totals AS (SELECT label, sum(c) AS t FROM counts GROUP BY 1),
        |nd AS (SELECT count(*) AS n FROM train),
        |labels AS (
        |  SELECT p.label,
        |    CAST(floor(ln(p.ndl * 1.0 / (SELECT n FROM nd)) * 1e6) AS BIGINT)
        |      AS prior_mil,
        |    CAST(floor(ln(1.0 / (t.t + (SELECT v FROM v))) * 1e6) AS BIGINT)
        |      AS miss_mil
        |  FROM (SELECT label, count(*) AS ndl FROM train GROUP BY 1) p
        |  JOIN totals t ON t.label = p.label),
        |terms AS (
        |  SELECT c.term, c.label,
        |    CAST(floor(ln((c.c + 1) * 1.0 / (t.t + (SELECT v FROM v))) * 1e6)
        |      AS BIGINT) AS ll_mil
        |  FROM counts c JOIN totals t ON t.label = c.label),
        |stok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS term
        |  FROM documents WHERE doc_id >= 250 AND doc_id < 750),
        |kept AS (
        |  SELECT doc_id, term FROM stok
        |  WHERE term IN (SELECT DISTINCT term FROM terms)),
        |scored AS (
        |  SELECT k.doc_id, l.label,
        |    l.prior_mil + CAST(sum(coalesce(tr.ll_mil, l.miss_mil)) AS BIGINT)
        |      AS score_mil
        |  FROM kept k CROSS JOIN labels l
        |  LEFT JOIN terms tr ON tr.term = k.term AND tr.label = l.label
        |  GROUP BY k.doc_id, l.label, l.prior_mil),
        |r AS (SELECT doc_id, label, score_mil, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score_mil DESC, label ASC) AS rn
        |  FROM scored)
        |SELECT doc_id, label AS predicted, score_mil FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "text_classify_chargram" ->
      """WITH base AS (
        |  SELECT doc_id, 'L' || CAST(doc_id % 5 AS VARCHAR) AS label,
        |    CASE doc_id % 5
        |      WHEN 0 THEN translate(lower(trim(text)), 'aeo', 'xyz')
        |      WHEN 1 THEN translate(lower(trim(text)), 'aeo', 'qwv')
        |      WHEN 2 THEN translate(lower(trim(text)), 'aeo', 'jkp')
        |      WHEN 3 THEN translate(lower(trim(text)), 'aeo', 'fgh')
        |      ELSE lower(trim(text)) END AS t
        |  FROM documents WHERE doc_id < 500),
        |ttok AS (
        |  SELECT label, unnest(CASE WHEN len(t) < 3 THEN [t]
        |    ELSE list_transform(range(len(t) - 2), i -> substr(t, i + 1, 3))
        |    END) AS term
        |  FROM base WHERE doc_id < 400),
        |ttk AS (SELECT label, term FROM ttok WHERE term <> ''),
        |counts AS (SELECT term, label, count(*) AS c FROM ttk GROUP BY 1, 2),
        |v AS (SELECT count(DISTINCT term) AS v FROM counts),
        |totals AS (SELECT label, sum(c) AS t FROM counts GROUP BY 1),
        |nd AS (SELECT count(*) AS n FROM base WHERE doc_id < 400),
        |labels AS (
        |  SELECT p.label,
        |    CAST(floor(ln(p.ndl * 1.0 / (SELECT n FROM nd)) * 1e6) AS BIGINT)
        |      AS prior_mil,
        |    CAST(floor(ln(1.0 / (t.t + (SELECT v FROM v))) * 1e6) AS BIGINT)
        |      AS miss_mil
        |  FROM (SELECT label, count(*) AS ndl FROM base
        |        WHERE doc_id < 400 GROUP BY 1) p
        |  JOIN totals t ON t.label = p.label),
        |terms AS (
        |  SELECT c.term, c.label,
        |    CAST(floor(ln((c.c + 1) * 1.0 / (t.t + (SELECT v FROM v))) * 1e6)
        |      AS BIGINT) AS ll_mil
        |  FROM counts c JOIN totals t ON t.label = c.label),
        |stok AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) < 3 THEN [t]
        |    ELSE list_transform(range(len(t) - 2), i -> substr(t, i + 1, 3))
        |    END) AS term
        |  FROM base WHERE doc_id >= 400),
        |kept AS (
        |  SELECT doc_id, term FROM stok
        |  WHERE term <> '' AND term IN (SELECT DISTINCT term FROM terms)),
        |scored AS (
        |  SELECT k.doc_id, l.label,
        |    l.prior_mil + CAST(sum(coalesce(tr.ll_mil, l.miss_mil)) AS BIGINT)
        |      AS score_mil
        |  FROM kept k CROSS JOIN labels l
        |  LEFT JOIN terms tr ON tr.term = k.term AND tr.label = l.label
        |  GROUP BY k.doc_id, l.label, l.prior_mil),
        |r AS (SELECT doc_id, label, score_mil, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score_mil DESC, label ASC) AS rn
        |  FROM scored)
        |SELECT doc_id, label AS predicted, score_mil FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "store_evolution" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_channel
        |FROM orders WHERE o_orderkey <= 1000 AND o_orderkey % 100 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice,
        |  'ch' || CAST(o_orderkey % 3 AS VARCHAR) AS o_channel
        |FROM orders
        |WHERE o_orderkey > 1000 AND o_orderkey <= 2000 AND o_orderkey % 100 <> 0
        |ORDER BY o_orderkey""".stripMargin,

    // full-recompute twin of the incremental fold: bands for store
    // (< 250) and batch, band-agreement pairs >= 6 of 16 over the
    // COMBINED relation, recursive closure — the incremental path must
    // produce the identical assignment (untouched clusters keep their
    // labels by construction; touched ones re-derive from the union)
    "dedup_cluster_incremental" ->
      """WITH RECURSIVE batch AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 5 = 0 THEN b.text || ' ' || b.text
        |      ELSE d.text END AS text,
        |    d.source
        |  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - 250
        |  WHERE d.doc_id >= 250 AND d.doc_id < 750),
        |corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 250
        |  UNION ALL SELECT doc_id, text FROM batch),
        |sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END) AS shd
        |  FROM corpus),
        |bk AS (
        |  SELECT id, unnest(list_transform(range(16), b ->
        |    md5(b::VARCHAR || '|' || array_to_string(
        |      list_transform(range(b*4, b*4+4), i ->
        |        list_min(list_transform(shd, s -> md5(i::VARCHAR || ':' || s)))), '|')))) AS band
        |  FROM sh),
        |ok AS (SELECT band FROM bk GROUP BY band HAVING count(*) <= 10000),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM bk a JOIN bk b USING (band)
        |  WHERE a.id < b.id AND band IN (SELECT band FROM ok)
        |  GROUP BY a.id, b.id HAVING count(*) >= 6),
        |sym AS (SELECT id_a AS u, id_b AS v FROM pairs
        |        UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(node, lab) AS (
        |  SELECT id, id FROM sh
        |  UNION
        |  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node)
        |SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
        |ORDER BY doc_id""".stripMargin,

    // identical answer to dedup_incremental by construction: the bloom
    // sketch only decides which rows take the anti-join, never the result
    "dedup_incremental_bloom" ->
      """WITH batch AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 5 = 0 THEN b.text ELSE d.text END AS text,
        |    d.source
        |  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - 250
        |  WHERE d.doc_id >= 250),
        |seen AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id < 250),
        |fresh AS (
        |  SELECT min(doc_id) AS doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM batch GROUP BY 2)
        |SELECT f.doc_id, b.source FROM fresh f
        |JOIN batch b ON b.doc_id = f.doc_id
        |WHERE f.fp NOT IN (SELECT fp FROM seen)
        |ORDER BY f.doc_id""".stripMargin,

    "dedup_lines" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id,
        |    'all rights reserved example header' || chr(10) ||
        |    array_to_string(list_transform(
        |      range(greatest(CAST(ceil(len(tk) / 8.0) AS BIGINT), 1)),
        |      i -> array_to_string(tk[i*8+1:i*8+8], ' ')), chr(10)) ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN chr(10) || 'subscribe to our newsletter footer'
        |      ELSE '' END AS text
        |  FROM t),
        |lines AS (
        |  SELECT doc_id,
        |    unnest(range(len(string_split(text, chr(10))))) AS pos,
        |    unnest(string_split(text, chr(10))) AS line
        |  FROM lined),
        |hot AS (
        |  SELECT k FROM (
        |    SELECT DISTINCT doc_id, lower(trim(line)) AS k FROM lines)
        |  GROUP BY k HAVING count(*) >= 5)
        |SELECT doc_id,
        |  string_agg(line, chr(10) ORDER BY pos) AS text,
        |  count(*) AS n_lines_kept
        |FROM lines
        |WHERE lower(trim(line)) NOT IN (SELECT k FROM hot)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_substrings_oracled" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    md5(array_to_string(t[i:i+7], ' ')) AS h
        |  FROM toks, unnest(range(1, len(t) - 6)) AS u(i)),
        |dup AS (
        |  SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
        |hits AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM wins JOIN dup USING (h))
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_windows
        |FROM hits GROUP BY doc_id, g
        |ORDER BY doc_id, span_start""".stripMargin,

    "dedup_substrings_cut" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    md5(array_to_string(t[i:i+7], ' ')) AS h
        |  FROM toks, unnest(range(1, len(t) - 6)) AS u(i)),
        |dup AS (
        |  SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
        |cov AS (
        |  SELECT DISTINCT w.doc_id, CAST(p AS BIGINT) AS pos
        |  FROM wins w JOIN dup USING (h),
        |       unnest(range(w.pos, w.pos + 8)) AS c(p)),
        |tokpos AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
        |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i))
        |SELECT tp.doc_id,
        |  string_agg(tp.tok, ' ' ORDER BY tp.pos) AS text,
        |  CAST(count(*) AS BIGINT) AS n_tokens_kept
        |FROM tokpos tp
        |LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.pos = tp.pos
        |WHERE c.pos IS NULL
        |GROUP BY tp.doc_id ORDER BY tp.doc_id""".stripMargin,

    "ngram_jaccard_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END AS sh
        |  FROM documents WHERE doc_id <= 150)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  round(len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |        len(list_distinct(a.sh || b.sh)), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.id < b.id
        |WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |      len(list_distinct(a.sh || b.sh)) >= 0.1
        |ORDER BY id_a, id_b""".stripMargin,

    // all-pairs DEFINITION of the prefix-filtered join's output: exact
    // distinct-trigram Jaccard ≥ 1/2 over the whole corpus, integer
    // threshold test (inter·2 ≥ union·1) exactly as the operator verifies
    "dedup_jaccard_prefix" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_distinct(list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' ')))
        |    END AS sh
        |  FROM documents)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  round(len(list_intersect(a.sh, b.sh)) * 1.0 /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
        |    AS jaccard
        |FROM sh a JOIN sh b ON a.id < b.id
        |WHERE len(list_intersect(a.sh, b.sh)) * 2 >=
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 1
        |ORDER BY id_a, id_b""".stripMargin,

    // winnowing replay: k-gram md5 hashes → per-window min (window =
    // wd consecutive grams ending at wend) → rightmost position
    // achieving the min → distinct (pos, h) per doc → rollup. least(w,
    // ng) reproduces the single-window rule for docs with < w grams
    "text_winnow" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(u.i AS INT) AS pos,
        |    CAST(('0x' || substr(md5(substring(t, CAST(u.i AS INT) + 1, 5)), 1, 12))
        |      AS BIGINT) AS h
        |  FROM d, LATERAL unnest(range(0, length(t) - 4)) AS u(i)
        |  WHERE length(t) >= 5),
        |n AS (SELECT doc_id, least(4, count(*)) AS wd FROM g GROUP BY doc_id),
        |m AS (
        |  SELECT a.doc_id, a.pos AS wend, n.wd, min(b.h) AS mh
        |  FROM g a JOIN n ON a.doc_id = n.doc_id
        |  JOIN g b ON b.doc_id = a.doc_id
        |    AND b.pos BETWEEN a.pos - n.wd + 1 AND a.pos
        |  WHERE a.pos >= n.wd - 1
        |  GROUP BY a.doc_id, a.pos, n.wd),
        |sel AS (
        |  SELECT DISTINCT m.doc_id, max(b.pos) AS pos, m.mh AS h
        |  FROM m JOIN g b ON b.doc_id = m.doc_id
        |    AND b.pos BETWEEN m.wend - m.wd + 1 AND m.wend AND b.h = m.mh
        |  GROUP BY m.doc_id, m.wend, m.mh)
        |SELECT doc_id, count(*) AS n_fp, CAST(sum(h) AS BIGINT) AS fp_sum,
        |  min(pos) AS first_pos, max(pos) AS last_pos
        |FROM (SELECT DISTINCT doc_id, pos, h FROM sel)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // span replay: the same winnow-selection CTEs keeping positions;
    // evidence = per-hash position cross-product within each qualified
    // pair, shared = DISTINCT hash count (>= 30), blocks sized by
    // DISTINCT holder docs in [2, 200]
    "text_winnow_spans" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(u.i AS INT) AS pos,
        |    CAST(('0x' || substr(md5(substring(t, CAST(u.i AS INT) + 1, 5)), 1, 12))
        |      AS BIGINT) AS h
        |  FROM d, LATERAL unnest(range(0, length(t) - 4)) AS u(i)
        |  WHERE length(t) >= 5),
        |n AS (SELECT doc_id, least(4, count(*)) AS wd FROM g GROUP BY doc_id),
        |m AS (
        |  SELECT a.doc_id, a.pos AS wend, n.wd, min(b.h) AS mh
        |  FROM g a JOIN n ON a.doc_id = n.doc_id
        |  JOIN g b ON b.doc_id = a.doc_id
        |    AND b.pos BETWEEN a.pos - n.wd + 1 AND a.pos
        |  WHERE a.pos >= n.wd - 1
        |  GROUP BY a.doc_id, a.pos, n.wd),
        |sel AS (
        |  SELECT DISTINCT m.doc_id, max(b.pos) AS pos, m.mh AS h
        |  FROM m JOIN g b ON b.doc_id = m.doc_id
        |    AND b.pos BETWEEN m.wend - m.wd + 1 AND m.wend AND b.h = m.mh
        |  GROUP BY m.doc_id, m.wend, m.mh),
        |sel2 AS (SELECT DISTINCT doc_id, CAST(pos AS INT) AS pos, h FROM sel),
        |fp AS (SELECT DISTINCT doc_id, h FROM sel2),
        |blk AS (SELECT h FROM fp GROUP BY h HAVING count(*) BETWEEN 2 AND 200),
        |pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
        |  JOIN blk ON blk.h = a.h
        |  GROUP BY 1, 2 HAVING count(*) >= 30),
        |ev AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.h,
        |    a.pos AS pos_a, b.pos AS pos_b
        |  FROM sel2 a JOIN sel2 b ON a.h = b.h AND a.doc_id < b.doc_id
        |  JOIN blk ON blk.h = a.h)
        |SELECT ev.id_a, ev.id_b, ev.h, ev.pos_a, ev.pos_b, pr.shared
        |FROM ev JOIN pr ON pr.id_a = ev.id_a AND pr.id_b = ev.id_b
        |ORDER BY 1, 2, 3, 4, 5""".stripMargin,

    // incremental replay: same selection CTEs, seen/batch split on
    // doc_id 100, hot h (> 200 seen holders) excluded both sides
    "dedup_winnow_incremental" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(u.i AS INT) AS pos,
        |    CAST(('0x' || substr(md5(substring(t, CAST(u.i AS INT) + 1, 5)), 1, 12))
        |      AS BIGINT) AS h
        |  FROM d, LATERAL unnest(range(0, length(t) - 4)) AS u(i)
        |  WHERE length(t) >= 5),
        |n AS (SELECT doc_id, least(4, count(*)) AS wd FROM g GROUP BY doc_id),
        |m AS (
        |  SELECT a.doc_id, a.pos AS wend, n.wd, min(b.h) AS mh
        |  FROM g a JOIN n ON a.doc_id = n.doc_id
        |  JOIN g b ON b.doc_id = a.doc_id
        |    AND b.pos BETWEEN a.pos - n.wd + 1 AND a.pos
        |  WHERE a.pos >= n.wd - 1
        |  GROUP BY a.doc_id, a.pos, n.wd),
        |fp AS (SELECT DISTINCT m.doc_id, m.mh AS h FROM m),
        |seen AS (SELECT * FROM fp WHERE doc_id >= 100),
        |batch AS (SELECT * FROM fp WHERE doc_id < 100),
        |hot AS (SELECT h FROM seen GROUP BY h HAVING count(*) > 200)
        |SELECT b.doc_id AS doc_id, s.doc_id AS seen_id, count(*) AS shared
        |FROM batch b JOIN seen s ON b.h = s.h
        |WHERE b.h NOT IN (SELECT h FROM hot)
        |GROUP BY 1, 2 HAVING count(*) >= 30
        |ORDER BY 1, 2""".stripMargin,

    // winnow pairs -> undirected reachability -> min-reachable label,
    // the recursive-CTE twin of the iterative min-label propagation
    "dedup_winnow_groups" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(u.i AS INT) AS pos,
        |    CAST(('0x' || substr(md5(substring(t, CAST(u.i AS INT) + 1, 5)), 1, 12))
        |      AS BIGINT) AS h
        |  FROM d, LATERAL unnest(range(0, length(t) - 4)) AS u(i)
        |  WHERE length(t) >= 5),
        |n AS (SELECT doc_id, least(4, count(*)) AS wd FROM g GROUP BY doc_id),
        |m AS (
        |  SELECT a.doc_id, a.pos AS wend, n.wd, min(b.h) AS mh
        |  FROM g a JOIN n ON a.doc_id = n.doc_id
        |  JOIN g b ON b.doc_id = a.doc_id
        |    AND b.pos BETWEEN a.pos - n.wd + 1 AND a.pos
        |  WHERE a.pos >= n.wd - 1
        |  GROUP BY a.doc_id, a.pos, n.wd),
        |fp AS (SELECT DISTINCT m.doc_id, m.mh AS h FROM m),
        |blk AS (SELECT h FROM fp GROUP BY h HAVING count(*) BETWEEN 2 AND 200),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
        |  JOIN blk ON blk.h = a.h
        |  GROUP BY 1, 2 HAVING count(*) >= 30),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT id, min(lbl) AS group_id FROM (
        |  SELECT src AS id, dst AS lbl FROM reach
        |  UNION SELECT src, src FROM edges)
        |GROUP BY id ORDER BY id""".stripMargin,

    // pair replay over the same selection: distinct (doc, h), blocks
    // sized [2, 200] (the hot-block guard), shared-count >= 30
    // (the corpus's boilerplate phrases put the noise floor near 25)
    "dedup_winnow" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(u.i AS INT) AS pos,
        |    CAST(('0x' || substr(md5(substring(t, CAST(u.i AS INT) + 1, 5)), 1, 12))
        |      AS BIGINT) AS h
        |  FROM d, LATERAL unnest(range(0, length(t) - 4)) AS u(i)
        |  WHERE length(t) >= 5),
        |n AS (SELECT doc_id, least(4, count(*)) AS wd FROM g GROUP BY doc_id),
        |m AS (
        |  SELECT a.doc_id, a.pos AS wend, n.wd, min(b.h) AS mh
        |  FROM g a JOIN n ON a.doc_id = n.doc_id
        |  JOIN g b ON b.doc_id = a.doc_id
        |    AND b.pos BETWEEN a.pos - n.wd + 1 AND a.pos
        |  WHERE a.pos >= n.wd - 1
        |  GROUP BY a.doc_id, a.pos, n.wd),
        |fp AS (
        |  SELECT DISTINCT m.doc_id, m.mh AS h
        |  FROM m),
        |blk AS (SELECT h FROM fp GROUP BY h HAVING count(*) BETWEEN 2 AND 200),
        |pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
        |  JOIN blk ON blk.h = a.h
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared FROM pr WHERE shared >= 30
        |ORDER BY id_a, id_b""".stripMargin,

    // blocking is an implementation detail (complete for lev<=1, false
    // candidates verified away), so the oracle is the SEMANTIC definition:
    // the all-pairs edit-distance filter, feasible at oracle scale
    "linkage_fuzzy_pairs" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  levenshtein(a.c_name, b.c_name) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    "linkage_fuzzy2_pairs" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  levenshtein(a.c_name, b.c_name) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE a.c_custkey <= 2000 AND b.c_custkey <= 2000
        |  AND levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "linkage_fuzzy_join" ->
      """SELECT a.c_custkey AS id_l, b.c_custkey AS id_r,
        |  levenshtein(a.c_name, b.c_name) AS dist
        |FROM customer a JOIN customer b
        |  ON levenshtein(a.c_name, b.c_name) <= 1
        |WHERE a.c_custkey < 100
        |ORDER BY id_l, id_r""".stripMargin,

    // the sorted-neighborhood DEFINITION replayed literally: global
    // ranks per pass (ties by id), candidates = rank distance <= w-1 in
    // either pass, then the lev<=1 verify — NOT the complete lev<=1 set
    // (the heuristic's window misses are part of the pinned semantics)
    "linkage_sorted_pairs" ->
      """WITH p1 AS (SELECT c_custkey AS id,
        |    row_number() OVER (ORDER BY c_name, c_custkey) AS rk
        |  FROM customer),
        |p2 AS (SELECT c_custkey AS id,
        |    row_number() OVER (ORDER BY reverse(c_name), c_custkey) AS rk
        |  FROM customer),
        |cand AS (
        |  SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b
        |  FROM p1 a JOIN p1 b ON b.rk - a.rk BETWEEN 1 AND 7
        |  UNION
        |  SELECT least(a.id, b.id), greatest(a.id, b.id)
        |  FROM p2 a JOIN p2 b ON b.rk - a.rk BETWEEN 1 AND 7)
        |SELECT c.id_a, c.id_b, levenshtein(x.c_name, y.c_name) AS dist
        |FROM cand c
        |JOIN customer x ON x.c_custkey = c.id_a
        |JOIN customer y ON y.c_custkey = c.id_b
        |WHERE levenshtein(x.c_name, y.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    // greedy min-cascade funnel: step j's completion is the earliest
    // step-j event strictly after step j-1's completion and within the
    // 48 h window — each CTE is deterministic given the previous, so the
    // chain replays the Spark fold exactly
    "funnel_steps" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |s0 AS (SELECT user_id, min(t) AS t FROM ev
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
        |  JOIN s0 USING (user_id) WHERE e.event_type = 'view'
        |  AND e.t > s0.t AND e.t <= s0.t + 172800000000 GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
        |  JOIN s1 USING (user_id) WHERE e.event_type = 'click'
        |  AND e.t > s1.t AND e.t <= s1.t + 172800000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.t) AS t FROM ev e
        |  JOIN s2 USING (user_id) WHERE e.event_type = 'purchase'
        |  AND e.t > s2.t AND e.t <= s2.t + 172800000000 GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS step, 'signup' AS step_name,
        |  CAST(count(*) AS BIGINT) AS n_users FROM s0
        |UNION ALL SELECT 1, 'view', count(*) FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        |ORDER BY step""".stripMargin,

    "cohort_retention" ->
      """WITH ev AS (SELECT user_id, make_timestamp(epoch_us(ts)) AS ts FROM events),
        |f AS (SELECT user_id, min(ts) AS first_ts FROM ev GROUP BY 1),
        |cells AS (SELECT DISTINCT
        |    strftime(date_trunc('week', f.first_ts), '%Y-%m-%d') AS cohort_week,
        |    CAST(datediff('day', date_trunc('week', f.first_ts),
        |      date_trunc('week', e.ts)) / 7 AS BIGINT) AS week_offset,
        |    e.user_id
        |  FROM ev e JOIN f USING (user_id))
        |SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_users
        |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "web_url_parts" -> (webDocsSql +
      s"""
        |, p AS (
        |  SELECT doc_id,
        |    regexp_extract(url, '^[a-z]+://([^/:?]+)', 1) AS host,
        |    regexp_extract(url, '://[^/:?]+:([0-9]+)', 1) AS port,
        |    regexp_extract(url, '^[a-z]+://[^/?]*(/[^?]*)', 1) AS path,
        |    regexp_extract(url, '\\?(.*)$$', 1) AS query_string
        |  FROM w)
        |SELECT doc_id, host, ${regDomSql("host")} AS registered_domain,
        |  string_split(host, '.')[-1] AS tld, port, path, query_string
        |FROM p ORDER BY doc_id""".stripMargin),

    "web_domain_stats" -> (webDocsSql +
      s"""
        |, h AS (SELECT doc_id, n_chars,
        |    regexp_extract(url, '^[a-z]+://([^/:?]+)', 1) AS host FROM w)
        |SELECT ${regDomSql("host")} AS registered_domain,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_size
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin),

    "vocab_bpe_merges" -> ("""WITH v0 AS (
        |  SELECT list_transform(range(len(tok)), j -> tok[j+1:j+1]) AS syms,
        |    CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY 1),""".stripMargin +
      (0 until 4).map(bpeRoundCte).mkString(",") + """
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS round, l AS left_sym, r AS right_sym,
        |    cnt AS pair_count FROM m0
        |  UNION ALL SELECT 1, l, r, cnt FROM m1
        |  UNION ALL SELECT 2, l, r, cnt FROM m2
        |  UNION ALL SELECT 3, l, r, cnt FROM m3)
        |ORDER BY round""".stripMargin),

    // learning rounds verbatim from vocab_bpe_merges; the final vocab v4
    // maps each token (the concatenation of its merged symbols — the
    // invariant that recovers `tok` from `syms`) to its piece list, and
    // the per-doc token stream joins + unnests with a global position
    "text_bpe_encode" -> bpeEncodeSql,

    // the encode stream aggregated per doc, joined with the whitespace
    // token count — fertility = pieces / tokens
    "text_bpe_coverage" ->
      s"""SELECT doc_id, n_tokens, n_pieces,
        |  round(CAST(n_pieces AS DOUBLE) / n_tokens, 4) AS fertility
        |FROM (
        |  SELECT doc_id, count(*) AS n_pieces
        |  FROM ($bpeEncodeSql) GROUP BY doc_id) p
        |JOIN (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
        |  FROM documents) t USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // identical oracle: the stored-model path must be a pure round trip
    "text_bpe_encode_stored" -> bpeEncodeSql,

    "web_url_canonical" -> (webDocsSql + """
        |, dec AS (
        |  SELECT doc_id, (CASE WHEN doc_id % 11 = 0 THEN upper(u4) ELSE u4 END) AS url_raw
        |  FROM (
        |    SELECT doc_id, u3 ||
        |      (CASE WHEN doc_id % 4 = 2 THEN '#sec' || CAST(doc_id % 3 AS VARCHAR)
        |            ELSE '' END) AS u4
        |    FROM (
        |      SELECT doc_id, u2 ||
        |        (CASE WHEN doc_id % 3 = 0 THEN
        |            (CASE WHEN doc_id % 6 = 0 THEN '&utm_source=feed'
        |                  ELSE '?utm_source=feed' END) ELSE '' END) AS u3
        |      FROM (
        |        SELECT doc_id, u1 ||
        |          (CASE WHEN doc_id % 6 = 0 THEN '&a=1' ELSE '' END) AS u2
        |        FROM (
        |          SELECT doc_id,
        |            CASE WHEN doc_id % 10 = 6 THEN replace(url, '/p/', ':443/p/')
        |                 WHEN doc_id % 10 = 3 THEN replace(url, '/p/', ':80/p/')
        |                 ELSE url END AS u1
        |          FROM w))))),
        |c AS (
        |  SELECT doc_id, url_raw,
        |    lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS scheme,
        |    lower(regexp_extract(u, '^[A-Za-z]+://([^/:?]+)', 1)) AS hostl,
        |    regexp_extract(u, '^[A-Za-z]+://[^/:?]+:([0-9]+)', 1) AS prt,
        |    regexp_extract(u, '^[A-Za-z]+://[^/?]*(/[^?]*)', 1) AS pth,
        |    list_sort(list_filter(string_split(regexp_extract(u, '\?(.*)$', 1), '&'),
        |      p -> p <> '' AND NOT starts_with(p, 'utm_'))) AS kept
        |  FROM (SELECT doc_id, url_raw, regexp_replace(url_raw, '#.*$', '') AS u
        |        FROM dec))
        |SELECT doc_id, url_raw,
        |  scheme || '://' || hostl ||
        |  (CASE WHEN prt = '' OR (scheme = 'http' AND prt = '80')
        |        OR (scheme = 'https' AND prt = '443')
        |        THEN '' ELSE ':' || prt END) ||
        |  (CASE WHEN pth = '' THEN '/' ELSE pth END) ||
        |  (CASE WHEN len(kept) = 0 THEN ''
        |        ELSE '?' || array_to_string(kept, '&') END) AS url_canonical
        |FROM c ORDER BY doc_id""".stripMargin),

    "quality_expectations" -> ("""SELECT * FROM (
        |SELECT 'lineitem' AS tbl, 'not_null:l_orderkey' AS rule,
        |  CAST(count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS BIGINT) AS violations FROM lineitem
        |UNION ALL SELECT 'lineitem', 'range:l_quantity:[1.0,25.0]',
        |  CAST(count(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0 OR l_quantity > 25.0 THEN 1 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'lineitem', 'non_negative:l_extendedprice',
        |  CAST(count(CASE WHEN l_extendedprice IS NULL OR l_extendedprice < 0 THEN 1 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'lineitem', 'range:l_discount:[0.0,0.05]',
        |  CAST(count(CASE WHEN l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.05 THEN 1 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'lineitem', 'in_set:l_returnflag',
        |  CAST(count(CASE WHEN l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R') THEN 1 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'orders', 'not_null:o_custkey',
        |  CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'orders', 'non_negative:o_totalprice',
        |  CAST(count(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0 THEN 1 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'orders', 'in_set:o_orderstatus',
        |  CAST(count(CASE WHEN o_orderstatus IS NULL OR o_orderstatus NOT IN ('F','O') THEN 1 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'documents', 'not_null:text',
        |  CAST(count(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) FROM documents
        |UNION ALL SELECT 'documents', 'range:n_chars:[1.0,300.0]',
        |  CAST(count(CASE WHEN n_chars IS NULL OR n_chars < 1.0 OR n_chars > 300.0 THEN 1 END) AS BIGINT) FROM documents
        |UNION ALL SELECT 'orders', 'unique:o_orderkey',
        |  CAST((SELECT count(*) FROM orders) - (SELECT count(DISTINCT o_orderkey) FROM orders) AS BIGINT)
        |UNION ALL SELECT 'customer', 'unique:c_custkey',
        |  CAST((SELECT count(*) FROM customer) - (SELECT count(DISTINCT c_custkey) FROM customer) AS BIGINT)
        |UNION ALL SELECT 'lineitem', 'unique:l_orderkey,l_linenumber',
        |  CAST((SELECT count(*) FROM lineitem) -
        |       (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS BIGINT)
        |UNION ALL SELECT 'lineitem', 'ref:l_orderkey',
        |  CAST(count(*) AS BIGINT) FROM lineitem l WHERE l_orderkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL SELECT 'lineitem', 'ref:l_partkey',
        |  CAST(count(*) AS BIGINT) FROM lineitem l WHERE l_partkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        |UNION ALL SELECT 'lineitem', 'ref:l_suppkey',
        |  CAST(count(*) AS BIGINT) FROM lineitem l WHERE l_suppkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
        |UNION ALL SELECT 'orders', 'ref:o_custkey',
        |  CAST(count(*) AS BIGINT) FROM orders o WHERE o_custkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL SELECT 'customer', 'ref:c_nationkey',
        |  CAST(count(*) AS BIGINT) FROM customer c WHERE c_nationkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        |) ORDER BY tbl, rule""".stripMargin),

    "web_domain_filter" -> (webDocsSql +
      s"""
        |, h AS (SELECT doc_id,
        |    regexp_extract(url, '^[a-z]+://([^/:?]+)', 1) AS host FROM w)
        |SELECT doc_id FROM h
        |WHERE ${regDomSql("host")} NOT IN ('site0.com', 'site3.co.uk', 'site5.org')
        |ORDER BY doc_id""".stripMargin),

    "minhash_verify_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END AS sh
        |  FROM documents WHERE doc_id <= 300)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  round(len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |        len(list_distinct(a.sh || b.sh)), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.id < b.id
        |WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |      len(list_distinct(a.sh || b.sh)) >= 0.05
        |ORDER BY id_a, id_b""".stripMargin,

    // portable md5 banding recomputed in closed form: permutation i of
    // shingle s = md5(i ':' s), signature element = lexicographic min,
    // band key = md5(b '|' row-mins) — identical algebra to
    // Dedup.portableBandKeys, different engine
    "minhash_band_candidates" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END) AS shd
        |  FROM documents WHERE doc_id <= 300),
        |bk AS (
        |  SELECT id, unnest(list_transform(range(32), b ->
        |    md5(b::VARCHAR || '|' || array_to_string(
        |      list_transform(range(b*2, b*2+2), i ->
        |        list_min(list_transform(shd, s -> md5(i::VARCHAR || ':' || s)))), '|')))) AS band
        |  FROM sh)
        |SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |FROM bk a JOIN bk b ON a.band = b.band AND a.id < b.id
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_minhash_oracled" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END) AS shd
        |  FROM documents WHERE doc_id <= 300),
        |bk AS (
        |  SELECT id, unnest(list_transform(range(32), b ->
        |    md5(b::VARCHAR || '|' || array_to_string(
        |      list_transform(range(b*2, b*2+2), i ->
        |        list_min(list_transform(shd, s -> md5(i::VARCHAR || ':' || s)))), '|')))) AS band
        |  FROM sh),
        |cand AS (
        |  SELECT DISTINCT min_id AS id_a, id AS id_b FROM (
        |    SELECT id, min(id) OVER (PARTITION BY band) AS min_id FROM bk)
        |  WHERE min_id < id),
        |dup AS (
        |  SELECT DISTINCT c.id_b
        |  FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b
        |  WHERE len(list_distinct(list_intersect(a.shd, b.shd))) * 1.0 /
        |        len(list_distinct(a.shd || b.shd)) >= 0.5)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id <= 300 AND doc_id NOT IN (SELECT id_b FROM dup)
        |ORDER BY doc_id""".stripMargin,

    "graph_pagerank" -> pageRankSql,

    // SCC from first principles: directed reachability closed with a
    // recursive CTE over the identical synthetic edge set, mutual pairs
    // by a closure self-join, label = max({v} ∪ mutual(v)) — derived
    // independently of the engine's trim/color/mark phases
    "graph_scc" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT doc_id AS node FROM documents WHERE doc_id <= 300),
        |nn AS (SELECT max(node) + 1 AS n FROM nodes),
        |e AS (
        |  SELECT src, dst FROM (
        |    SELECT node AS src,
        |      (node * node + j * 31) % (SELECT n FROM nn) AS dst
        |    FROM nodes, (VALUES (1),(2),(3)) AS t(j))
        |  WHERE dst IN (SELECT node FROM nodes) AND dst <> src),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst),
        |m AS (
        |  SELECT r1.src AS u, max(r1.dst) AS v
        |  FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
        |  GROUP BY r1.src)
        |SELECT n.node AS doc_id,
        |  CAST(greatest(n.node, coalesce(m.v, n.node)) AS BIGINT) AS scc_id
        |FROM nodes n LEFT JOIN m ON m.u = n.node
        |ORDER BY doc_id""".stripMargin,

    "graph_pagerank_dangling" -> pageRankDanglingSql,

    "graph_pagerank_personalized" -> pageRankPersonalizedSql,

    "graph_pagerank_weighted" -> pageRankWeightedSql,

    "graph_pagerank_neardup" -> pageRankNearDupSql,
    "dedup_keep_central" -> keepCentralSql,

    "graph_kcore" -> kCoreSql,

    "graph_label_prop" -> labelPropSql,
    "graph_label_prop_weighted" -> labelPropWeightedSql,

    // BFS replay: bounded-length walk enumeration (the recursive term
    // re-visits a node at every walk length ≤ 16, UNION dedups exact
    // (node, d) pairs so the recursion terminates on cycles), then
    // min-per-node — exact because the true eccentricity is 8 < 16
    "graph_bfs" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT doc_id AS node FROM documents WHERE doc_id <= 300),
        |e AS (
        |  SELECT node AS s, (node * 2) % (SELECT max(node) + 1 FROM nodes) AS d
        |  FROM nodes
        |  UNION ALL
        |  SELECT node, (node * 2 + 1) % (SELECT max(node) + 1 FROM nodes)
        |  FROM nodes),
        |sym AS (
        |  SELECT s AS u, d AS v FROM e WHERE s <> d
        |  UNION
        |  SELECT d, s FROM e WHERE s <> d),
        |reach(node, dd) AS (
        |  SELECT node, 0 FROM nodes WHERE node = 7
        |  UNION
        |  SELECT s.v, r.dd + 1 FROM reach r JOIN sym s ON s.u = r.node
        |  WHERE r.dd < 16)
        |SELECT node AS doc_id, CAST(min(dd) AS BIGINT) AS dist
        |FROM reach GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // weighted walk enumeration: UNION dedups exact (node, cost)
    // pairs so cycles terminate at the 64 cost bound (diameter 8 ×
    // max weight 5, with margin); parallel edges keep min weight
    "graph_shortest_paths" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT doc_id AS node FROM documents WHERE doc_id <= 300),
        |e AS (
        |  SELECT src, dst, 1 + (src + dst) % 5 AS w FROM (
        |    SELECT node AS src,
        |      (node * 2) % (SELECT max(node) + 1 FROM nodes) AS dst
        |    FROM nodes
        |    UNION ALL
        |    SELECT node, (node * 2 + 1) % (SELECT max(node) + 1 FROM nodes)
        |    FROM nodes)),
        |sym AS (
        |  SELECT u, v, min(w) AS w FROM (
        |    SELECT src AS u, dst AS v, w FROM e WHERE src <> dst
        |    UNION ALL
        |    SELECT dst, src, w FROM e WHERE src <> dst)
        |  GROUP BY 1, 2),
        |reach(node, dd) AS (
        |  SELECT node, 0 FROM nodes WHERE node = 7
        |  UNION
        |  SELECT s.v, r.dd + s.w FROM reach r JOIN sym s ON s.u = r.node
        |  WHERE r.dd + s.w <= 64)
        |SELECT node AS doc_id, CAST(min(dd) AS BIGINT) AS dist
        |FROM reach GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "graph_triangles" ->
      """WITH nodes AS (SELECT doc_id AS node FROM documents WHERE doc_id <= 300),
        |raw AS (
        |  SELECT node AS s, (node + 1) % (SELECT max(node) + 1 FROM nodes) AS d
        |  FROM nodes
        |  UNION ALL
        |  SELECT node, (node + 2) % (SELECT max(node) + 1 FROM nodes) FROM nodes
        |  UNION ALL
        |  SELECT node, (node * 3 + 7) % (SELECT max(node) + 1 FROM nodes)
        |  FROM nodes),
        |e AS (
        |  SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
        |  FROM raw WHERE s <> d),
        |tri AS (
        |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |cnt AS (
        |  SELECT node, count(*) AS triangles FROM (
        |    SELECT x AS node FROM tri
        |    UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri)
        |  GROUP BY 1)
        |SELECT n.node AS doc_id, coalesce(c.triangles, 0) AS triangles
        |FROM nodes n LEFT JOIN cnt c ON c.node = n.node
        |ORDER BY doc_id""".stripMargin,

    "graph_components" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT doc_id AS node FROM documents WHERE doc_id <= 400),
        |e AS (
        |  SELECT node AS src, node + 1 AS dst FROM nodes WHERE node < 100
        |  UNION ALL
        |  SELECT 150::BIGINT, node FROM nodes WHERE node BETWEEN 151 AND 250
        |  UNION ALL
        |  SELECT node, node % 7 + 300 FROM nodes WHERE node BETWEEN 260 AND 299),
        |sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
        |reach(node, lab) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node)
        |SELECT node AS doc_id, min(lab) AS component FROM reach
        |GROUP BY node ORDER BY doc_id""".stripMargin,

    "dedup_cluster_oracled" -> (clusterCompSql +
      """
        |SELECT node AS doc_id, cluster_id FROM comp ORDER BY doc_id""".stripMargin),

    "dedup_cluster_stats" -> (clusterCompSql +
      """
        |SELECT cluster_size, count(*) AS n_clusters FROM (
        |  SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
        |GROUP BY 1 ORDER BY cluster_size""".stripMargin),

    "dedup_cluster_keep_best" -> (clusterCompSql +
      """,
        |j AS (SELECT c.cluster_id, d.doc_id, d.n_chars
        |      FROM comp c JOIN documents d ON d.doc_id = c.node),
        |r AS (SELECT cluster_id, doc_id,
        |        row_number() OVER (PARTITION BY cluster_id
        |          ORDER BY n_chars DESC, doc_id ASC) AS rn,
        |        count(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM j)
        |SELECT cluster_id, doc_id AS kept_id, cluster_size FROM r WHERE rn = 1
        |ORDER BY cluster_id""".stripMargin),

    // the same-nation lev<=1 pair relation recomputed all-pairs (the
    // linkage_fuzzy_pairs oracle plus the hard blocking key), closed
    // transitively with the same recursive label-propagation CTE as the
    // cluster oracles
    "linkage_entities" ->
      """WITH RECURSIVE e AS (
        |  SELECT a.c_custkey AS u, b.c_custkey AS v
        |  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |  WHERE a.c_nationkey = b.c_nationkey
        |    AND levenshtein(a.c_name, b.c_name) <= 1),
        |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |reach(node, lab) AS (
        |  SELECT c_custkey, c_custkey FROM customer
        |  UNION
        |  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node)
        |SELECT node AS c_custkey, min(lab) AS entity_id FROM reach GROUP BY node
        |ORDER BY c_custkey""".stripMargin,

    // tier 1: min-id per md5(normalized text) group over the augmented
    // corpus (originals + whitespace-doubled copies at +1000); tier 2:
    // the same closed-form md5 banding + Jaccard verify as
    // dedup_minhash_oracled, over the tier-1 survivors
    "dedup_tiered_oracled" ->
      """WITH d AS (
        |  SELECT doc_id, text, source FROM documents WHERE doc_id <= 300),
        |aug AS (
        |  SELECT * FROM d
        |  UNION ALL
        |  SELECT doc_id + 1000 AS doc_id,
        |    regexp_replace(text, ' ', '  ', 'g') AS text, source
        |  FROM d WHERE doc_id % 7 = 0),
        |keep AS (
        |  SELECT min(doc_id) AS id FROM aug
        |  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
        |d2 AS (
        |  SELECT doc_id, text, source FROM aug
        |  WHERE doc_id IN (SELECT id FROM keep)),
        |sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END) AS shd
        |  FROM d2),
        |bk AS (
        |  SELECT id, unnest(list_transform(range(32), b ->
        |    md5(b::VARCHAR || '|' || array_to_string(
        |      list_transform(range(b*2, b*2+2), i ->
        |        list_min(list_transform(shd, s -> md5(i::VARCHAR || ':' || s)))), '|')))) AS band
        |  FROM sh),
        |cand AS (
        |  SELECT DISTINCT min_id AS id_a, id AS id_b FROM (
        |    SELECT id, min(id) OVER (PARTITION BY band) AS min_id FROM bk)
        |  WHERE min_id < id),
        |dup AS (
        |  SELECT DISTINCT c.id_b
        |  FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b
        |  WHERE len(list_distinct(list_intersect(a.shd, b.shd))) * 1.0 /
        |        len(list_distinct(a.shd || b.shd)) >= 0.5)
        |SELECT doc_id, source FROM d2
        |WHERE doc_id NOT IN (SELECT id_b FROM dup)
        |ORDER BY doc_id""".stripMargin,

    // batch recompute of the streamed dedup: every re-sent duplicate must
    // have been dropped by the cross-restart state, so the sink equals
    // the corpus exactly
    "stream_dedup_oracled" ->
      """SELECT doc_id, length(text) AS len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "knn_brute" ->
      """SELECT e.vec_id,
        |  round(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
        |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,

    "embedding_norms" ->
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm,
        |  label
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "dedup_groups" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END AS sh
        |  FROM documents WHERE doc_id <= 300),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM sh a JOIN sh b ON a.id < b.id
        |  WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |        len(list_distinct(a.sh || b.sh)) >= 0.05),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT id, min(lbl) AS group_id FROM (
        |  SELECT src AS id, dst AS lbl FROM reach
        |  UNION SELECT src, src FROM edges)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the dedup_groups recursive-CTE components, then the split fraction
    // computed on the GROUP representative (coalesce to own id)
    "curation_split_grouped" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
        |      THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
        |      ELSE list_transform(
        |        range(len(string_split_regex(lower(trim(text)), '\s+')) - 2),
        |        i -> array_to_string(
        |          string_split_regex(lower(trim(text)), '\s+')[i+1:i+3], ' '))
        |    END AS sh
        |  FROM documents WHERE doc_id <= 300),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM sh a JOIN sh b ON a.id < b.id
        |  WHERE len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |        len(list_distinct(a.sh || b.sh)) >= 0.05),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |grp AS (
        |  SELECT id, min(lbl) AS group_id FROM (
        |    SELECT src AS id, dst AS lbl FROM reach
        |    UNION SELECT src, src FROM edges)
        |  GROUP BY 1),
        |f AS (
        |  SELECT d.doc_id,
        |    CAST(('0x' || substr(md5(CAST(coalesce(g.group_id, d.doc_id)
        |        AS VARCHAR) || 'graft-split'), 1, 8))
        |      AS UBIGINT) / 4294967296.0 AS frac
        |  FROM documents d LEFT JOIN grp g ON g.id = d.doc_id
        |  WHERE d.doc_id <= 300)
        |SELECT doc_id,
        |  CASE WHEN frac < 0.8 THEN 'train'
        |       WHEN frac < (0.8 + 0.1) THEN 'val'
        |       ELSE 'test' END AS split
        |FROM f ORDER BY doc_id""".stripMargin,

    "embedding_dup_brute" ->
      """WITH e AS (
        |  SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id < 200),
        |scored AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    list_sum(list_transform(range(1, len(a.v) + 1),
        |        i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE))) /
        |      (sqrt(list_sum(list_transform(a.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |       sqrt(list_sum(list_transform(b.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM e a JOIN e b ON a.id < b.id)
        |SELECT id_a, id_b, round(cos, 4) AS cos FROM scored
        |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "knn_join_brute" ->
      """WITH l AS (
        |  SELECT vec_id AS id_l, embedding AS v_l FROM embeddings WHERE vec_id < 20),
        |r AS (SELECT vec_id AS id_r, embedding AS v_r FROM embeddings),
        |scored AS (
        |  SELECT id_l, id_r,
        |    round(list_sum(list_transform(range(1, len(v_l) + 1),
        |            i -> CAST(v_l[i] AS DOUBLE) * CAST(v_r[i] AS DOUBLE))) /
        |      (sqrt(list_sum(list_transform(v_l, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |       sqrt(list_sum(list_transform(v_r, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
        |  FROM l, r WHERE id_l <> id_r),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY id_l ORDER BY cos DESC, id_r) AS rank
        |  FROM scored)
        |SELECT id_l, id_r, cos, rank FROM ranked WHERE rank <= 5
        |ORDER BY id_l, rank""".stripMargin,

    "media_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  strlen(text) AS byte_len,
        |  sha256(text) AS sha256
        |FROM documents ORDER BY media_id""".stripMargin,

    // the quarantine routing in closed form: codec-compressed MP4s
    // (%4=1) and text-byte mislabeled images (%4=3) are quarantined
    // with their probe-specific reasons; decodable MPNG AVIs (%4=0)
    // and PCM16 WAVs (%4=2) must be ABSENT
    "media_quarantine" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 4 = 1 THEN 'video' ELSE 'image' END AS kind,
        |  CASE WHEN doc_id % 4 = 1
        |    THEN 'video: no pure-JDK decoder for this container (codec-compressed)'
        |    ELSE 'image: unrecognized container (not PNG/JPEG/GIF/BMP)'
        |  END AS reason
        |FROM documents
        |WHERE doc_id % 4 IN (1, 3)
        |ORDER BY media_id""".stripMargin,

    // the solid-color corpus's closed-form descriptor: channel means are
    // the doc_id-residue channels /255, the DC luma dim is Rec.601 over
    // those channels, AC dims are exactly 0; the REAL cast mirrors the
    // Spark side's Float feature storage before the 4-dp round
    "media_embedding" -> mediaSolidEmbeddingSql(),

    // format independence: the PNG route must reproduce the BMP
    // route's descriptor value-for-value
    "media_png_embedding" -> mediaSolidEmbeddingSql("WHERE doc_id < 256"),

    // the image-near-dup pipeline replayed without decoding a pixel:
    // closed-form solid-color descriptors (the media_embedding algebra
    // on the 23-cycle color table) → the portable-plane bucket bits →
    // the dedup_embedding_oracled block/verify/anti-join recipe
    "media_neardup" ->
      s"""WITH c AS (
        |  SELECT doc_id, CAST(doc_id % 23 AS BIGINT) AS k FROM documents),
        |col3 AS (
        |  SELECT doc_id, 40 + k * 9 AS r, 255 - k * 10 AS g,
        |    30 + (k * 37) % 200 AS b
        |  FROM c),
        |e AS (
        |  SELECT doc_id AS vec_id,
        |    list_transform(range(64), p -> CAST(
        |      CASE
        |        WHEN p < 48 AND p % 3 = 0 THEN CAST(r AS DOUBLE) / 255.0
        |        WHEN p < 48 AND p % 3 = 1 THEN CAST(g AS DOUBLE) / 255.0
        |        WHEN p < 48 THEN CAST(b AS DOUBLE) / 255.0
        |        WHEN p = 48 THEN (299.0 * r + 587.0 * g + 114.0 * b) / 255000.0
        |        ELSE 0.0
        |      END AS REAL)) AS embedding
        |  FROM col3),
        |bk AS (SELECT vec_id AS id, embedding, $duckBucketBits AS bucket FROM e),
        |ok AS (
        |  SELECT bucket FROM bk GROUP BY bucket
        |  HAVING count(*) > 1 AND count(*) <= 10000),
        |cand AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.embedding AS va, b.embedding AS vb
        |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id < b.id
        |  WHERE a.bucket IN (SELECT bucket FROM ok)),
        |dup AS (
        |  SELECT DISTINCT id_b FROM cand
        |  WHERE ${duckCos("va", "vb")} >= 0.999)
        |SELECT vec_id FROM e WHERE vec_id NOT IN (SELECT id_b FROM dup)
        |ORDER BY vec_id""".stripMargin,

    // the square-wave corpus's closed-form descriptor: block mean|x| is
    // the amplitude scramble /32768, block ZCR is the interior-flip
    // count /255 keyed on the half-period cycle; the REAL cast mirrors
    // the Spark side's Float feature storage before the 4-dp round
    "media_audio_embedding" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS pos
        |  FROM documents, unnest(range(16)) AS t(p))
        |SELECT doc_id AS media_id, pos,
        |  round(CAST(CASE WHEN pos < 8 THEN
        |    CAST(CAST(500 + ((doc_id*37 + pos*29 + doc_id*pos*13) % 89) * 320
        |      AS DOUBLE) / 32768.0 AS REAL)
        |  ELSE
        |    CAST((CASE CAST(doc_id % 4 AS INTEGER)
        |      WHEN 0 THEN 127 WHEN 1 THEN 63 WHEN 2 THEN 31 ELSE 15 END)
        |      / 255.0 AS REAL)
        |  END AS DOUBLE), 4) AS val
        |FROM dims ORDER BY media_id, pos""".stripMargin,

    // the audio-near-dup pipeline replayed without parsing a byte of
    // RIFF: closed-form square-wave descriptors (the media_audio_
    // embedding algebra on the 23-cycle parameter table) → the
    // portable-plane bucket bits → the dedup_embedding_oracled
    // block/verify/anti-join recipe
    "media_audio_neardup" ->
      s"""WITH c AS (
        |  SELECT doc_id, CAST(doc_id % 23 AS BIGINT) AS k FROM documents),
        |e AS (
        |  SELECT doc_id AS vec_id,
        |    list_transform(range(16), p -> CAST(
        |      CASE WHEN p < 8 THEN
        |        CAST(500 + ((k*37 + p*29 + k*p*13) % 89) * 320 AS DOUBLE)
        |          / 32768.0
        |      ELSE
        |        (CASE CAST(k % 4 AS INTEGER)
        |          WHEN 0 THEN 127 WHEN 1 THEN 63 WHEN 2 THEN 31 ELSE 15 END)
        |          / 255.0
        |      END AS REAL)) AS embedding
        |  FROM c),
        |bk AS (SELECT vec_id AS id, embedding, $duckBucketBits AS bucket FROM e),
        |ok AS (
        |  SELECT bucket FROM bk GROUP BY bucket
        |  HAVING count(*) > 1 AND count(*) <= 10000),
        |cand AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.embedding AS va, b.embedding AS vb
        |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id < b.id
        |  WHERE a.bucket IN (SELECT bucket FROM ok)),
        |dup AS (
        |  SELECT DISTINCT id_b FROM cand
        |  WHERE ${duckCos("va", "vb")} >= 0.999)
        |SELECT vec_id FROM e WHERE vec_id NOT IN (SELECT id_b FROM dup)
        |ORDER BY vec_id""".stripMargin,

    // the stub decode recomputed in closed form: byte i of the payload
    // sha256 is CAST('0x'||substr(hex, i*2+1, 2)), dims/frames/features
    // are fixed arithmetic on those bytes (Media.decodeFromDigest)
    "media_features" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    strlen(text) AS byte_len,
        |    sha256(text) AS h
        |  FROM documents),
        |u AS (
        |  SELECT *,
        |    CAST(('0x' || substr(h, 1, 2)) AS INT) AS u0,
        |    CAST(('0x' || substr(h, 3, 2)) AS INT) AS u1,
        |    CAST(('0x' || substr(h, 5, 2)) AS INT) AS u2,
        |    CAST(('0x' || substr(h, 7, 2)) AS INT) AS u3
        |  FROM m)
        |SELECT media_id, kind, byte_len, h AS sha256,
        |  CAST(64 + u0 * 16 AS INTEGER) AS width,
        |  CAST(64 + u1 * 4 AS INTEGER) AS height,
        |  CAST(CASE kind WHEN 'image' THEN 1 WHEN 'audio' THEN 1 + u2 % 32
        |    ELSE 1 + u3 % 300 END AS INTEGER) AS n_frames,
        |  list_sum(list_transform(range(8), i ->
        |    (CAST(('0x' || substr(h, i*4+1, 2)) AS INT) - 128) / 128.0)) AS feat_sum
        |FROM u ORDER BY media_id""".stripMargin,

    // the synthetic PDF corpus's closed-form metadata: version and page
    // count are doc_id residues by construction
    "media_pdf_meta" ->
      """SELECT doc_id AS media_id,
        |  '1.' || CAST(4 + doc_id % 3 AS VARCHAR) AS pdf_version,
        |  CAST(1 + doc_id % 7 AS BIGINT) AS n_pages
        |FROM documents ORDER BY media_id""".stripMargin,

    // MPNG-AVI replay without touching a byte of RIFF: sampled frames
    // (stride 2 over 1 + doc_id % 4) and their solid colors are
    // closed-form in (doc_id, f); per-frame dims follow the
    // media_embedding solid-image algebra (means = channel/255, DC =
    // Rec.601 luma, AC = 0, each through REAL precision); the video
    // dim = REAL(sum/count) over <= 2 sampled frames — two-term double
    // sums are order-free, so the average is bit-identical cross-engine
    "media_video_embedding" ->
      """WITH c AS (SELECT doc_id, 1 + doc_id % 4 AS nf FROM documents
        |  WHERE doc_id < 1024),
        |fr AS (
        |  SELECT doc_id, CAST(t.f AS BIGINT) AS f,
        |    (doc_id + 17 * t.f) % 256 AS r,
        |    (doc_id * 7 + 29 * t.f) % 256 AS g,
        |    (doc_id * 13 + 41 * t.f) % 256 AS b
        |  FROM c, LATERAL unnest(range(0, nf, 2)) AS t(f)),
        |pf AS (
        |  SELECT doc_id, f, CAST(t.p AS BIGINT) AS pos,
        |    CAST(CAST(CASE
        |      WHEN t.p < 48 AND t.p % 3 = 0 THEN CAST(r AS DOUBLE) / 255.0
        |      WHEN t.p < 48 AND t.p % 3 = 1 THEN CAST(g AS DOUBLE) / 255.0
        |      WHEN t.p < 48 THEN CAST(b AS DOUBLE) / 255.0
        |      WHEN t.p = 48 THEN (299.0 * r + 587.0 * g + 114.0 * b) / 255000.0
        |      ELSE 0.0 END AS REAL) AS DOUBLE) AS v
        |  FROM fr, unnest(range(64)) AS t(p))
        |SELECT doc_id AS media_id, pos,
        |  round(CAST(CAST(sum(v) / count(*) AS REAL) AS DOUBLE), 4) + 0.0 AS val
        |FROM pf GROUP BY 1, 2 ORDER BY media_id, pos""".stripMargin,

    // the MP4 corpus's closed-form metadata: dims and frame count are
    // doc_id residues by construction; sampling = ceil(frames/30)
    "media_video_frames" ->
      """SELECT doc_id AS media_id,
        |  CAST(160 + 16 * (doc_id % 8) AS BIGINT) AS width,
        |  CAST(120 + 8 * (doc_id % 5) AS BIGINT) AS height,
        |  CAST(1 + doc_id % 300 AS BIGINT) AS n_frames,
        |  (1 + doc_id % 300 + 29) // 30 AS n_sampled
        |FROM documents ORDER BY media_id""".stripMargin,

    "media_frames" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    sha256(text) AS h
        |  FROM documents)
        |SELECT media_id,
        |  CAST(len(range(0, 1 + CAST(('0x' || substr(h, 7, 2)) AS INT) % 300, 30))
        |    AS BIGINT) AS n_sampled
        |FROM m WHERE kind = 'video' ORDER BY media_id""".stripMargin
  )
}
