package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{SimHash, TextFunctions => T, VectorFunctions => V}

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Shared scale pattern: '''never compare all pairs.''' Every near-dup
  * variant first computes a per-document signature (narrow map, codegen'd),
  * then blocks documents into candidate buckets (one shuffle on a compact
  * key), and only scores pairs *within* a bucket. At 100 TB the all-pairs
  * join is O(n²) and impossible; bucketed candidate generation is
  * O(n · bucket_width) and AQE handles the skewed buckets.
  *
  * "Dedup" keeps the smallest id of each duplicate group (canonical-
  * representative policy): a doc is dropped when *any* smaller-id doc is
  * its duplicate. That avoids iterative connected components — at the
  * similarity thresholds used for near-dup (≥ 0.8) groups are cliques in
  * practice, and the policy is deterministic either way.
  */
object Dedup {

  /** Unsigned right shift with a Column shift amount (the public functions
    * wrapper only takes an Int). */
  private def ushr(v: Column, bits: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(org.apache.spark.sql.catalyst.expressions.ShiftRightUnsigned(
      Bridge.expression(v), Bridge.expression(bits)))
  }

  // ---- exact ---------------------------------------------------------------

  /** Exact dedup on the normalized-text fingerprint: one hash-aggregate
    * (map-side partial → final), keeping the smallest-id row per group.
    * No window function — `min_by` aggregates partially on the map side,
    * a `row_number` window would sort whole partitions. */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cols = df.columns.toSeq
    df.withColumn("__fp", T.fingerprint(col(textCol)))
      .groupBy(col("__fp"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__row"))
      .select(cols.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** Exact dedup with a SURVIVOR POLICY: within each normalized-text
    * fingerprint group, keep the row maximizing `score` (ties → smallest
    * id) instead of [[exact]]'s smallest-id row. This is the policy
    * production dedup actually wants — among a page's crawl variants,
    * keep the longest / highest-quality capture, not whichever was
    * crawled first. Same single partial-combined hash aggregate as
    * [[exact]] (`max_by` over a (score, −id) struct — lexicographic max
    * = best score, then lowest id); no window, nothing sorts whole
    * partitions, so the 100 TB cost is identical to min-id dedup. */
  def exactKeepBest(df: DataFrame, score: Column,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cols = df.columns.toSeq
    df.withColumn("__fp", T.fingerprint(col(textCol)))
      .groupBy(col("__fp"))
      .agg(max_by(struct(cols.map(col): _*),
        struct(score, col(idCol) * lit(-1L))).as("__row"))
      .select(cols.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** Incremental exact dedup: deduplicate a new `batch` against a corpus
    * already reduced to its fingerprint set, WITHOUT rescanning the
    * corpus. Returns the batch rows that are new — internally deduped
    * first ([[exact]]), then anti-joined against `seenFps` (a one-column
    * `fpCol` relation).
    *
    * The 100 TB shape: the corpus fingerprint table is ~32 bytes/doc —
    * tiny next to the corpus — and when it is stored bucketed on `fpCol`
    * ([[graft.core.TableStore.stageBucketed]]) the anti-join reads it
    * with NO exchange: only the day's increment shuffles (PlanSpec pins
    * the exchange-free stored side). Daily dedup cost is then
    * O(increment), not O(corpus). After the batch lands, append its
    * fingerprints to the store to close the loop. */
  def incrementalExact(batch: DataFrame, seenFps: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      fpCol: String = "fp"): DataFrame = {
    val fresh = exact(batch, textCol, idCol)
      .withColumn(fpCol, T.fingerprint(col(textCol)))
    fresh.join(seenFps.select(col(fpCol)), Seq(fpCol), "left_anti")
      .drop(fpCol)
  }

  /** CCNet-style boilerplate-line removal: drop every line that appears
    * (normalized: lower+trim) in at least `minDocs` DISTINCT documents,
    * and reassemble the survivors in original order. Headers, footers,
    * cookie banners, nav menus — the lines that repeat across a crawl —
    * vanish; document-unique prose stays. Documents whose every line is
    * boilerplate disappear from the output (their text would be empty).
    *
    * Plan shape: one posexplode to slim `(id, pos, line)` rows; the hot
    * set is `distinct → count ≥ minDocs` — partial-combined aggregates
    * whose OUTPUT is the (small) repeated-line set; an anti-join against
    * it; and one per-doc regroup (`min_by`-style `array_sort(collect_list
    * (struct(pos, line)))` — no window, no per-partition sort of the
    * whole corpus). `hashLines = true` (default) keys the hot-set join on
    * `xxhash64` of the normalized line — an 8-byte shuffle key instead of
    * the line text, same trick as [[Curation.contamination]]; `false`
    * joins on the strings (bit-identical minus hash collisions, and
    * expressible in portable SQL — the driver oracle hash-checks the
    * hashed path against a string-keyed DuckDB recomputation). */
  def dedupLines(docs: DataFrame, minDocs: Long = 5,
      textCol: String = "text", idCol: String = "doc_id",
      sep: String = "\n", hashLines: Boolean = true): DataFrame = {
    val norm = lower(trim(col("line")))
    val key = if (hashLines) xxhash64(norm) else norm
    // the exploded line projection feeds BOTH the hot-set aggregate and
    // the anti-join — scope-cache it so the corpus is split exactly once
    // (same pattern as the minhash single-scan path)
    // no Par.ensure here: line splitting + per-line hashing is cheap per
    // row (measured 1.16 → 2.2 s when widened at sf0.1 — the serial
    // pre-shuffle write and 32-way task fixed costs exceed the gain);
    // the heavy-expansion operators (shingling, winnowing, neighborhood
    // explode) are where the widen pays
    withProjectionCache(docs
      .select(col(idCol), posexplode(
        split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .withColumnRenamed("col", "line")
      .withColumn("__k", key)) { lines =>
      val hot = lines.select(col("__k"), col(idCol)).distinct()
        .groupBy(col("__k")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") >= minDocs)
        .select(col("__k"))
      lines.join(hot, Seq("__k"), "left_anti")
        .groupBy(col(idCol))
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")), sep).as(textCol),
          count(lit(1)).as("n_lines_kept"))
    }
  }

  // ---- exact substring spans -----------------------------------------------

  /** Exact substring-span dedup (the Lee et al. 2021 "deduplicating
    * training data" shape, re-expressed relationally): find every
    * `w`-token window whose exact text occurs at least twice ANYWHERE in
    * the corpus, then merge each document's duplicated window starts into
    * maximal spans with a gaps-and-islands window function. Returns
    * `(idCol, span_start, span_end, n_windows)` — 1-based token
    * positions, `span_end` inclusive — the byte-range shape a curation
    * pass consumes to cut repeated boilerplate out of otherwise-unique
    * documents (whole-doc dedup can't touch these).
    *
    * `hashMode`: `"xxhash64"` (default) hashes each window to 8 bytes so
    * the corpus-wide count and join shuffle `(id, pos, key)` triples, not
    * window text; `"md5"` is the engine-portable twin (identical hex in
    * any engine — the DuckDB oracle runs this mode through this same
    * function); `"none"` keeps raw window strings (witness/debug only —
    * the shuffle carries full text).
    *
    * 100 TB shape: the exploded relation is ~one row per corpus token but
    * each row is ~24 bytes; the duplicated-key set aggregates with
    * map-side partials (a boilerplate window duplicated millions of times
    * is still ONE group), and the span merge is a per-document window
    * whose partition size is bounded by document length, never corpus
    * size. The window projection is scope-cached so the corpus tokenizes
    * once for both the count and the join. */
  /** The `(pos, __k)` window-struct array over a tokenized `__t` column:
    * 1-based starts, `w`-token windows keyed per `hashMode`; docs shorter
    * than `w` yield null so a downstream explode drops them. Materialized
    * as a per-row array BEFORE any explode, so the wide token array never
    * rides through the exploded relation. */
  private def windowStructs(w: Int, hashMode: String): Column = {
    def keyOf(win: Column): Column = hashMode match {
      case "xxhash64" => xxhash64(win)
      case "md5"      => md5(win)
      case "none"     => win
      case other => throw new IllegalArgumentException(
        s"hashMode must be xxhash64|md5|none, got $other")
    }
    val n = size(col("__t"))
    when(n >= w,
      transform(sequence(lit(1), n - (w - 1)), i =>
        struct(i.cast("long").as("pos"),
          keyOf(concat_ws(" ", slice(col("__t"), i, lit(w)))).as("__k"))))
  }

  def duplicatedSpans(docs: DataFrame, w: Int = 8,
      textCol: String = "text", idCol: String = "doc_id",
      hashMode: String = "xxhash64"): DataFrame = {
    require(w >= 2, s"window must span at least 2 tokens, got $w")
    val wins = Par.ensure(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("__t"))
      .select(col(idCol), explode(windowStructs(w, hashMode)).as("__w"))
      .select(col(idCol), col("__w.pos").as("pos"), col("__w.__k").as("__k"))
    withProjectionCache(wins) { ws =>
      val dup = ws.groupBy(col("__k"))
        .agg(count(lit(1)).as("__c"))
        .filter(col("__c") > 1)
        .select(col("__k"))
      val ord = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol)).orderBy(col("pos"))
      ws.join(dup, Seq("__k"))
        .withColumn("__g", col("pos") - row_number().over(ord).cast("long"))
        .groupBy(col(idCol), col("__g"))
        .agg(
          min(col("pos")).as("span_start"),
          (max(col("pos")) + lit(w - 1).cast("long")).as("span_end"),
          count(lit(1)).as("n_windows"))
        .select(col(idCol), col("span_start"), col("span_end"),
          col("n_windows"))
    }
  }

  /** Apply the [[duplicatedSpans]] decision: rewrite each document with
    * every token covered by a corpus-duplicated `w`-window REMOVED — the
    * aggressive boilerplate cut (the window-granularity analogue of
    * [[dedupLines]]; a repeated passage survives nowhere, so use this for
    * templated boilerplate, and [[duplicatedSpans]] + a keep-one policy
    * when any copy must survive). Documents whose every token is covered
    * disappear. Returns `(idCol, textCol, n_tokens_kept)` with the
    * survivors rejoined in token order, single-space separated (the
    * rewrite is over the normalized token stream by construction).
    *
    * 100 TB shape: same narrow window relation as [[duplicatedSpans]];
    * coverage expands each duplicated window to `w` slim `(id, pos)`
    * rows — bounded by corpus token count — and the rebuild is one
    * per-doc hash-aggregate over survivor tokens (sorted in-row, the
    * [[dedupLines]] pattern, never a corpus-wide sort). The tokenized
    * base is scope-cached: one corpus scan feeds windows and rebuild. */
  def cutDuplicatedSpans(docs: DataFrame, w: Int = 8,
      textCol: String = "text", idCol: String = "doc_id",
      hashMode: String = "xxhash64"): DataFrame = {
    require(w >= 2, s"window must span at least 2 tokens, got $w")
    withProjectionCache(Par.ensure(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("__t"))) { base =>
      val wins = base
        .select(col(idCol), explode(windowStructs(w, hashMode)).as("__w"))
        .select(col(idCol), col("__w.pos").as("pos"), col("__w.__k").as("__k"))
      val dup = wins.groupBy(col("__k"))
        .agg(count(lit(1)).as("__c"))
        .filter(col("__c") > 1)
        .select(col("__k"))
      val covered = wins.join(dup, Seq("__k"))
        .select(col(idCol),
          explode(sequence(col("pos"), col("pos") + lit(w - 1).cast("long")))
            .as("pos"))
        .distinct()
      base
        .select(col(idCol), posexplode(col("__t")).as(Seq("__p0", "tok")))
        .select(col(idCol), (col("__p0") + 1).cast("long").as("pos"), col("tok"))
        .join(covered, Seq(idCol, "pos"), "left_anti")
        .groupBy(col(idCol))
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")), " ").as(textCol),
          count(lit(1)).as("n_tokens_kept"))
    }
  }

  // ---- tiered (exact → near-dup) -------------------------------------------

  /** Tiered dedup — the production layering for duplicate-saturated
    * corpora: tier 1 collapses exact duplicates (normalized-fingerprint
    * hash-agg, min-id representative), tier 2 runs MinHash near-dup over
    * the SURVIVORS only. On real web/boilerplate corpora most duplication
    * is byte-identical after whitespace normalization, so tier 1 removes
    * the mega-groups for the cost of one hash-aggregate and tier 2's
    * in-bucket quadratic work scores one representative per identical
    * group instead of the whole group: an n-member identical cluster
    * costs n·(n-1)/2 verify pairs unlayered but 0 after collapse (the
    * sf10 soak measured exactly this shape — 100-member groups, ~25M
    * verify pairs — which this layering removes outright). */
  def tiered(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      threshold: Double = 0.8): DataFrame =
    minhash(exact(df, textCol, idCol), textCol, idCol, threshold = threshold)

  /** [[tiered]] under portable md5 banding — both tiers reproducible in
    * closed-form SQL (tier 1's fingerprint is already md5 of the
    * normalized text), so the exact-collapse → near-dup layering is
    * hash-checkable end to end. Bound via `maxId` like every portable
    * audit path; the xxhash64 [[tiered]] stays the scale default. */
  def tieredPortable(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 32, threshold: Double = 0.5, maxId: Long = 300L): DataFrame = {
    val survivors = exact(df.filter(col(idCol) <= maxId), textCol, idCol)
    minhashPortable(survivors, textCol, idCol, shingleSize, numHashes,
      bands, threshold, maxId)
  }

  // ---- shared candidate generation ----------------------------------------

  /** Scoped cache for the single-scan near-dup pipelines: eagerly
    * materialize the per-document projection, build the pair result
    * over it, materialize that (small) result, then release the
    * projection's blocks. The cache lives exactly as long as the one
    * call that needs it — the earlier persist-and-return shape leaked a
    * cached copy of every corpus ever deduped into the session's
    * CacheManager. The checkpointed pair list is per-bucket-bounded
    * candidate pairs, orders of magnitude smaller than the corpus, and
    * its blocks are released by the ContextCleaner when the caller
    * drops the result.
    *
    * The projection is materialized with `localCheckpoint`, NOT
    * `persist`: a localCheckpoint truncates the plan to an RDD scan,
    * so there is no Catalyst-cache plan substitution downstream —
    * which matters because Spark 4.1.2's InMemoryRelation substitution
    * can MIS-BIND the pipelines built here (a projection persisted
    * after an action already ran on its source, then self-joined with
    * its own aggregate — exactly the blocked⋈keyOk shape — fails task
    * binding with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, flakily by
    * exprId). The checkpoint costs the same one evaluation the persist
    * paid on first use, stores the same blocks, and removes the bug
    * class instead of dodging it.
    *
    * Fault-tolerance trade, stated explicitly: localCheckpoint
    * truncates lineage, so on a multi-executor cluster a lost executor
    * mid-job fails the enclosing operator call with a missing-block
    * error instead of recomputing (plain persist would recompute from
    * lineage). The operators are deterministic, so the recovery is to
    * re-run the call — acceptable for batch dedup/index jobs; if an
    * executor-loss-tolerant variant is ever needed, reliable
    * `checkpoint(dir)` (replicated to storage) slots in here without
    * touching callers. */
  private[operators] def withProjectionCache(base: DataFrame)(
      build: DataFrame => DataFrame): DataFrame = {
    val cached = base.localCheckpoint(true)
    try build(cached).localCheckpoint(true)
    finally releaseCheckpoint(cached)
  }

  /** Deterministically free an eager `localCheckpoint`'s blocks (the
    * ContextCleaner would only reclaim them after the frame is GC'd —
    * too late for corpus-sized projections churned per call). */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
    }.getOrElse(())

  /** Candidate pairs (id_a < id_b) from a blocking table `(key, id)`: one
    * shuffle groups ids per key, pairs are generated *within* each bucket
    * with higher-order functions, then deduped across buckets.
    *
    * Built this way (groupBy + in-bucket combination) instead of a
    * key-equality self-join because a self-join evaluates the blocking
    * subtree twice — signatures are the expensive part — and because the
    * grouped form shuffles each id once instead of once per bucket probe.
    * Buckets larger than `maxBucket` are dropped with the assumption that a
    * mega-bucket is a degenerate blocking key (all-identical boilerplate):
    * at 100 TB one hot key would otherwise produce a quadratic pair list;
    * callers that care can lower the band width instead. */
  def candidatePairs(blocked: DataFrame, keyCol: String, idCol: String,
      maxBucket: Int = 10000): DataFrame = {
    // hot-key guard BEFORE materializing bucket lists, as a windowed
    // count over the SAME key partitioning the collect_list aggregate
    // needs: ONE exchange serves guard and grouping, the blocking
    // subtree (signatures, bucket bits) is evaluated once instead of
    // once per guard-join side, and a degenerate hot key buffers in the
    // window's spill-safe row container instead of growing an unbounded
    // collect_list array on one reducer. This deliberately avoids the
    // earlier guard-JOIN form (aggregate the keys, semi-join back):
    // Spark 4.1.2's constraint inference could transplant the left
    // side's bucket-ALIAS constraint (bucket = f(vec)) onto the
    // deduplicated right branch of that self-join, where the vec
    // attribute doesn't exist — task-time
    // INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, flaky by exprId (triggered,
    // e.g., whenever a caller ran any action on the source DataFrame
    // before blocking). A single-lineage window has no join to infer
    // across.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    val ids = blocked
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n") > 1 && col("__n") <= maxBucket)
      .groupBy(col(keyCol))
      .agg(collect_list(col(idCol)).as("ids"))
      .select(array_sort(col("ids")).as("ids"))
    // pair expansion in two pipelined generates: posexplode the bucket, then
    // explode each element's suffix slice. Peak per-row state is ONE bucket's
    // id array (≤ maxBucket longs, ~80 KB), not the full n²/2 pair array —
    // the earlier `flatten(transform(…))` form built every pair of a bucket
    // into a single array value (~GBs for a 10k-id hot bucket) before the
    // explode could stream it.
    ids
      .select(col("ids"), posexplode(col("ids")))
      .select(col("col").as("id_a"),
        explode(slice(col("ids"), col("pos") + lit(2), size(col("ids")))).as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Representative-link candidates for KEEP-ONE dedup — the band-space
    * port of the embedding family's bounded-work fix
    * ([[Similarity.contrastiveHardTriplets]]'s per-anchor cap, in the
    * shape a keep-one consumer actually needs): within each bucket,
    * every member pairs with the bucket's MIN id ONLY, so candidate
    * volume is `bandRows − buckets` — LINEAR in corpus size at any
    * duplicate density — instead of the all-pairs `Σ c²/2` that grows
    * as |clique|² on duplicate-saturated corpora. Measured on the sf10
    * soak corpus (jittered ~100-copy cliques): all-pairs volume is
    * 27.31M distinct pairs for 500k docs — 109× the sf1 volume for 10×
    * the rows, with 432M in-bucket pair slots feeding the distinct —
    * while min-linking emits ≤ bands (16) candidates per doc, period.
    *
    * Why this preserves keep-one semantics where it matters: a doc is
    * dropped iff SOME kept pair verifies, and a band bucket's members
    * share an exact `rows`-hash signature slice, so a bucket's min is
    * (with the same collision probability that produced the bucket) a
    * genuine near-dup of every member — in a dense clique the bucket
    * min IS a clique sibling and every non-min member links straight to
    * it; in a 2-member bucket min-linking and all-pairs are literally
    * the same pair. Only a mixed bucket whose min is dissimilar to a
    * member that IS similar to some other smaller member can differ
    * from the exact verify, and a band match at sub-threshold
    * similarity is rare by construction (p ≈ 0.06 per band at j = 0.5
    * with 4-row bands). No hot-bucket drop guard is needed — volume is
    * linear, so a mega-bucket costs O(c), and nothing is silently
    * lost. One exchange (the same window partitioning the all-pairs
    * path needed anyway), no collect_list, no pair explosion, and the
    * min-over-bucket closed form replays in one SQL window function.
    * Pair-REPORTING surfaces keep the exact all-pairs path: their
    * output IS the quadratic pair set. */
  private[graft] def minLinkPairs(blocked: DataFrame, keyCol: String,
      idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    blocked
      .withColumn("__m", min(col(idCol)).over(w))
      .filter(col("__m") < col(idCol))
      .select(col("__m").as("id_a"), col(idCol).as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  // ---- MinHash + LSH -------------------------------------------------------

  /** MinHash signature — delegated to the one-pass native expression
    * [[graft.functions.MinHashSignature]] (the compositional
    * `array(k × array_min(transform(…)))` form re-runs the string hashing
    * k× after Catalyst inlines the shared subexpression; measured 35×
    * slower at k=64). */
  def minhashSignature(shingles: Column, numHashes: Int = 64): Column =
    graft.functions.MinHash.signature(shingles, numHashes)

  /** Banded LSH keys: split the signature into `bands` bands of `rows`
    * hashes; two docs collide on a band iff that slice matches exactly.
    * P(collide | jaccard=s) = 1-(1-s^rows)^bands. Key = xxhash64(band index,
    * band slice) — a single long, so the blocking shuffle is as slim as it
    * gets. Built as ONE `transform` over a `sequence` rather than
    * `array(bands × …)`: the array form references `sig` per branch and
    * Catalyst's CollapseProject inlines the whole upstream signature
    * computation into every branch (measured 16× recompute). */
  def lshBandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sig, b * rows + 1, lit(rows))))

  /** Candidate duplicate pairs (id_a < id_b) from MinHash banding, verified
    * with exact shingle Jaccard ≥ `threshold`.
    *
    * Plan shape: signature (narrow) → explode bands (×bands) → self-join on
    * the band key (shuffle on compact (band,sig64)) → distinct pairs →
    * exact verify. The per-bucket self-join is quadratic only within a
    * bucket; band width (`rows`) controls bucket selectivity. */
  def minhashDuplicatePairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      minLink: Boolean = false): DataFrame = {
    val rows = numHashes / bands
    // SINGLE corpus scan: the hashed-shingle projection (id, sh) is
    // persisted once and every downstream stage — banding signature, the
    // candidate hot-key guard, and BOTH exact-verify join sides — derives
    // from it. Tokenize + string hashing (the expensive part) runs exactly
    // once per document; the banding signature is k cheap multiply-add
    // mixes over the cached longs (MinHashFromHashes). Without this the
    // corpus was scanned and re-hashed 4×. The cache is keyed by logical
    // plan, so repeated calls over the same input reuse it; at 100 TB this
    // is the difference between one and four passes over the corpus.
    // sorted-distinct shingle sets: the signature is order/duplicate-
    // insensitive (min-reduction), and the verify Jaccard becomes a linear
    // merge per pair instead of a per-pair hash-set build
    withProjectionCache(Par.ensure(df
        .select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        graft.functions.MinHash.shingleHashesSorted(
          split(lower(trim(col("__t"))), "\\s+"), shingleSize).as("sh"))) { base =>

      // slim candidate generation: only (band, id) crosses the shuffle
      val banded = base
        .withColumn("band", explode(lshBandKeys(
          graft.functions.MinHash.signatureFromHashes(col("sh"), numHashes),
          bands, rows)))
        .select(col("band"), col("id"))

      val candidates =
        if (minLink) minLinkPairs(banded, "band", "id")
        else candidatePairs(banded, "band", "id")

      // exact-verify on hashed shingle sets (identical Jaccard up to 64-bit
      // collisions; long arrays are far cheaper than shingle strings to
      // build, ship, and intersect)
      candidates
        .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("jaccard",
          graft.functions.MinHash.jaccardSorted(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }
  }

  /** MinHash-LSH dedup: drop every doc with a verified smaller-id dup.
    * Candidates come from bucket-representative linking by default
    * ([[minLinkPairs]] — linear volume at any duplicate density, the
    * fix for the measured 109×-pairs-for-10×-rows growth on
    * clique-saturated corpora); `minLink = false` restores the exact
    * all-pairs verify. */
  def minhash(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      threshold: Double = 0.8, minLink: Boolean = true): DataFrame = {
    val dupIds = minhashDuplicatePairs(df, textCol, idCol, threshold = threshold,
        minLink = minLink)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  // ---- Portable (cross-engine) MinHash banding -----------------------------

  /** Shingle STRINGS (not hashed) with the same window semantics as the
    * hashed-kernel path: k-token windows over whitespace tokens, whole
    * text as the single shingle when shorter than k. */
  private[operators] def portableShingleStrings(text: Column, k: Int): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  /** Banded LSH keys where EVERY hash is md5-derived and therefore
    * reproducible in closed-form SQL by any engine with md5 (the same
    * portability trick as [[Curation.hashFraction]]): permutation i of
    * shingle s is `md5(i ':' s)`, a signature element is the lexicographic
    * MIN of those hex strings, and band b's key is
    * `md5(b '|' sig[b*rows] '|' … )`. Each (band, row) minimum scans the
    * shingle array exactly once — 64 md5 passes total, never the
    * 16×-recompute shape CollapseProject produces when a materialized
    * signature column is inlined into the band lambda. xxhash64 banding
    * ([[lshBandKeys]]) stays the performance default; this mode exists so
    * the full dedup pipeline can be oracle-verified end to end. */
  private[operators] def portableBandKeys(shd: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      md5(concat(b.cast("string"), lit("|"),
        concat_ws("|", transform(sequence(b * rows, b * rows + (rows - 1)),
          i => array_min(transform(shd,
            s => md5(concat(i.cast("string"), lit(":"), s)))))))))
  }

  /** `(id, shd)` base projection for the portable pipeline: distinct
    * shingle strings per doc, bounded by `maxId` (the portable mode is the
    * oracle/audit path — bound it; the xxhash64 path is the scale path). */
  private def portableBase(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int, maxId: Long): DataFrame =
    df.filter(col(idCol) <= maxId)
      // the maxId filter typically collapses the scan to ONE input split,
      // which would run the 64-pass md5 projection single-threaded; a
      // cheap pre-shuffle of the bounded slice spreads it across cores
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col(idCol).as("id"),
        array_distinct(portableShingleStrings(col(textCol), shingleSize)).as("shd"))

  /** Band-candidate pairs (id_a < id_b) under portable md5 banding — the
    * band-selection stage in isolation, so an external engine recomputing
    * the same closed-form banding must produce the identical pair set.
    * Runs through the production [[candidatePairs]] machinery (hot-bucket
    * guard, streamed in-bucket expansion). */
  def minhashPortableCandidates(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 16, maxId: Long = 300L): DataFrame =
    withProjectionCache(portableBase(df, textCol, idCol, shingleSize, maxId)) { base =>
      val banded = base.select(
        explode(portableBandKeys(col("shd"), numHashes, bands)).as("band"),
        col("id"))
      candidatePairs(banded, "band", "id")
    }

  /** Full portable minhash dedup: md5 banding → candidate pairs → exact
    * Jaccard verify over distinct shingle strings → drop every doc with a
    * verified smaller-id duplicate. Every stage is reproducible in
    * closed-form SQL, making the whole pipeline hash-checkable against an
    * independent engine (banding + verify + anti-join). */
  def minhashPortable(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.8, maxId: Long = 300L,
      minLink: Boolean = true): DataFrame = {
    val dupIds = withProjectionCache(
        portableBase(df, textCol, idCol, shingleSize, maxId)) { base =>
      val banded = base.select(
        explode(portableBandKeys(col("shd"), numHashes, bands)).as("band"),
        col("id"))
      (if (minLink) minLinkPairs(banded, "band", "id")
       else candidatePairs(banded, "band", "id"))
        .join(base.select(col("id").as("id_a"), col("shd").as("shd_a")), "id_a")
        .join(base.select(col("id").as("id_b"), col("shd").as("shd_b")), "id_b")
        .filter(size(array_intersect(col("shd_a"), col("shd_b"))).cast("double") /
          size(array_union(col("shd_a"), col("shd_b"))) >= threshold)
        .select(col("id_b"))
        .distinct()
    }
    df.filter(col(idCol) <= maxId)
      .join(dupIds.withColumnRenamed("id_b", idCol), Seq(idCol), "left_anti")
  }

  // ---- Transitive duplicate clusters ---------------------------------------

  /** TRANSITIVE duplicate clusters: minhash banding → min-link candidates
    * → exact Jaccard verify → [[Graph.connectedComponents]] over the
    * verified pair relation. Returns `(idCol, cluster_id)` for EVERY doc
    * (non-duplicates are singletons of themselves); `cluster_id` is the
    * smallest doc id reachable through verified near-dup pairs.
    *
    * This is the piece keep-one dedup ([[minhash]]) deliberately skips:
    * chains of drifted revisions (A≈B≈C without A≈C) land in one cluster
    * here, and the cluster relation itself feeds datacard size
    * histograms and cluster-level survivor selection. Candidate volume
    * stays LINEAR in corpus size (min-link, ≤ bands per doc) and — the
    * property that makes min-link safe for clustering in a way it can't
    * quite be for pairwise verification — connectivity over min-link
    * candidates within a bucket EQUALS connectivity over all-pairs
    * within that bucket (every member touches the bucket min, so the
    * bucket is one piece either way); only the Jaccard verify of
    * individual links differs from the all-pairs graph. */
  def clusters(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", threshold: Double = 0.8): DataFrame = {
    val edges = minhashDuplicatePairs(df, textCol, idCol,
      threshold = threshold, minLink = true)
    Graph.connectedComponents(edges, "id_a", "id_b",
        nodes = Some(df.select(col(idCol))), nodeCol = idCol)
      .select(col("node").as(idCol), col("component").as("cluster_id"))
  }

  /** [[clusters]] under the portable md5 banding — every stage (banding,
    * min-link selection, Jaccard verify, transitive closure) is
    * reproducible in closed-form SQL, so the full cluster assignment is
    * hash-checkable against an independent engine (the closure replays
    * as a recursive label-propagation CTE). */
  def clustersPortable(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 32, threshold: Double = 0.5, maxId: Long = 300L): DataFrame = {
    val edges = withProjectionCache(
        portableBase(df, textCol, idCol, shingleSize, maxId)) { base =>
      val banded = base.select(
        explode(portableBandKeys(col("shd"), numHashes, bands)).as("band"),
        col("id"))
      minLinkPairs(banded, "band", "id")
        .join(base.select(col("id").as("id_a"), col("shd").as("shd_a")), "id_a")
        .join(base.select(col("id").as("id_b"), col("shd").as("shd_b")), "id_b")
        .filter(size(array_intersect(col("shd_a"), col("shd_b"))).cast("double") /
          size(array_union(col("shd_a"), col("shd_b"))) >= threshold)
        .select(col("id_a"), col("id_b"))
    }
    Graph.connectedComponents(edges, "id_a", "id_b",
        nodes = Some(df.filter(col(idCol) <= maxId).select(col(idCol))),
        nodeCol = idCol)
      .select(col("node").as(idCol), col("component").as("cluster_id"))
  }

  // ---- Portable (cross-engine) SimHash -------------------------------------

  /** Bit b of the md5 hex string `h` under the portable layout: bit
    * (3 - b%4) of nibble b/4 — pure arithmetic (no literal-only shift
    * builtins), so the same closed form runs in any SQL engine. */
  private def portableBit(h: Column, b: Column): Column = {
    val nibble = conv(h.substr((b / 4).cast("int") + 1, lit(1)), 16, 10).cast("int")
    val shift = (lit(3) - pmod(b, lit(4))).cast("double")
    pmod((nibble.cast("double") / pow(lit(2.0), shift)).cast("int"), lit(2))
  }

  /** 64-char '0'/'1' SimHash string where every token hash is md5-derived
    * — the [[SimHash64]] algorithm (per-bit ±1 vote over the token
    * MULTISET, sign rule `sum > 0`) with the engine-portable hash and a
    * string representation any engine can chunk and compare. `th` is the
    * per-token md5 hex array (hash each token ONCE; the per-bit lambda
    * only extracts nibble bits from the precomputed hex). */
  private def portableSimhashBits(th: Column): Column =
    concat_ws("", transform(sequence(lit(0), lit(63)), b =>
      when(aggregate(th, lit(0),
        (acc, h) => acc + when(portableBit(h, b) === 1, lit(1)).otherwise(lit(-1)))
        > 0, lit("1")).otherwise(lit("0"))))

  /** Hamming distance between two 64-char bitstrings. */
  private def hammingBits(a: Column, b: Column): Column =
    size(filter(sequence(lit(1), lit(64)),
      i => a.substr(i, lit(1)) =!= b.substr(i, lit(1))))

  /** SimHash near-dup pairs under the portable md5 hash: the same
    * pigeonhole 16-bit-chunk blocking and Hamming verify as
    * [[simhashDuplicatePairs]], every stage reproducible in closed-form
    * SQL — the cross-engine witness for the whole simhash pipeline
    * (the xxhash64 kernel path stays the scale default). */
  def simhashPortablePairs(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      maxId: Long = 300L): DataFrame =
    withProjectionCache(df.filter(col(idCol) <= maxId)
      // same single-split hazard as portableBase: parallelize the 64-bit
      // vote projection across cores
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col(idCol).as("id"),
        portableSimhashBits(transform(
          split(lower(trim(col(textCol))), "\\s+"), t => md5(t))).as("bits"))) { base =>
      val blocked = base.select(
        explode(transform(sequence(lit(0), lit(3)), c =>
          concat(c.cast("string"), lit(":"),
            col("bits").substr(c * 16 + 1, lit(16))))).as("chunk"),
        col("id"))
      candidatePairs(blocked, "chunk", "id")
        .join(base.select(col("id").as("id_a"), col("bits").as("bits_a")), "id_a")
        .join(base.select(col("id").as("id_b"), col("bits").as("bits_b")), "id_b")
        .withColumn("hamming", hammingBits(col("bits_a"), col("bits_b")))
        .filter(col("hamming") <= maxHamming)
        .select(col("id_a"), col("id_b"), col("hamming"))
    }

  /** Full portable simhash dedup: drop every doc with a portable-hash
    * near-dup of smaller id. */
  def simhashPortable(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      maxId: Long = 300L): DataFrame = {
    val dupIds = simhashPortablePairs(df, textCol, idCol, maxHamming, maxId)
      .select(col("id_b").as(idCol)).distinct()
    df.filter(col(idCol) <= maxId).join(dupIds, Seq(idCol), "left_anti")
  }

  // ---- SimHash -------------------------------------------------------------

  /** SimHash near-dup pairs: 64-bit simhash per doc (custom codegen'd
    * expression), blocked on 16-bit chunks — Hamming distance ≤ 3 across 4
    * chunks guarantees at least one identical chunk (pigeonhole), so
    * blocking is lossless for maxHamming ≤ 3. Verified with
    * `bit_count(a^b)`. */
  def simhashDuplicatePairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxHamming: Int = 3): DataFrame = {
    val chunks = 4 // 4 × 16-bit chunks of the 64-bit hash
    // single corpus scan: the (id, simhash) projection is cached for the
    // duration of this call; chunk keys, the candidate guard, and both
    // verify sides derive from the cached 64-bit hashes (tokenize+simhash
    // ran 3× before)
    withProjectionCache(Par.ensure(df
        .select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        SimHash.simhash64(split(lower(trim(col("__t"))), "\\s+")).as("sh"))) { hashes =>

      // chunk keys via ONE transform over the hash (an array(4 × struct(sh…))
      // form would re-run tokenize+simhash per chunk after CollapseProject
      // inlining); key = xxhash64(chunk index, 16-bit chunk value)
      val blocked = hashes
        .withColumn("chunk", explode(
          transform(sequence(lit(0), lit(chunks - 1)), c =>
            xxhash64(c, ushr(col("sh"), c * 16).bitwiseAND(lit(0xFFFFL))))))
        .select(col("chunk"), col("id"))

      candidatePairs(blocked, "chunk", "id")
        .join(hashes.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(hashes.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
        .filter(col("hamming") <= maxHamming)
        .select(col("id_a"), col("id_b"), col("hamming"))
    }
  }

  def simhash(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      maxHamming: Int = 3): DataFrame = {
    val dupIds = simhashDuplicatePairs(df, textCol, idCol, maxHamming)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  // ---- n-gram Jaccard (exact, small scopes) --------------------------------

  /** Exact all-pairs n-gram Jaccard within an id range — the oracle-
    * checkable baseline for the LSH variants. All-pairs is O(n²): keep
    * `maxId` small (driver tests) or pre-block (production path is
    * [[minhashDuplicatePairs]]).
    *
    * `dictEncode = false` keeps the pair merge on shingle STRINGS:
    * measured choice for tiny scopes (≲ 10k pairs), where the encode's
    * fixed costs (two eager checkpoints, three corpus-linear shuffles,
    * ~0.3 s local) exceed what the cheaper merges save — the same
    * per-call-site trade the `widen` flags record. The jaccard values
    * are identical either way (the encode is a bijection). */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      maxId: Long = Long.MaxValue,
      dictEncode: Boolean = true): DataFrame = {
    // shingle STRINGS (the point of this exact baseline — no hashing),
    // sorted+deduped once per doc. Par.ensure below the shingle map: the
    // per-doc sort/distinct and the pair scoring downstream otherwise
    // both run on a single-split scan's one task (guide §2.5); the id
    // filter stays below the exchange so pushdown is unaffected
    val sh = Par.ensure(df.filter(col(idCol) <= maxId)
        .select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        array_sort(array_distinct(T.wordShingles(col("__t"), shingleSize))).as("sh"))
    // DICTIONARY-encode the shingle strings to dense longs before the
    // quadratic stage (guide §2.3 "narrower types", applied to the
    // per-task work): a bijection string→code preserves every
    // intersection/union cardinality, so distinct-set Jaccard is
    // UNCHANGED — still hash-free and exact — while the O(pairs) merge
    // compares 8-byte longs instead of variable-length UTF8 strings
    // (the n² stage is where ~all task time went; the encode adds only
    // corpus-linear work). Codes come from monotonically_increasing_id
    // over the distinct-shingle relation: injective by construction,
    // and the eager checkpoint pins the assignment so every downstream
    // read sees the same codes (which codes they are is irrelevant —
    // the arrays are re-sorted in code order). explode_outer keeps
    // empty shingle sets as empty code arrays (jaccard 0.0, as before).
    val (enc, merge) =
      if (dictEncode) {
        val exploded = sh.select(col("id"), explode_outer(col("sh")).as("__s"))
        val vocab = exploded.select("__s").filter(col("__s").isNotNull).distinct()
          .withColumn("__code", monotonically_increasing_id())
          .localCheckpoint(true)
        val e = exploded.join(vocab, Seq("__s"), "left")
          .groupBy("id")
          // collect_list skips the nulls explode_outer emits for empty sets
          .agg(array_sort(collect_list(col("__code"))).as("sh"))
          .localCheckpoint(true) // one encode pass feeds BOTH pair sides
        (e, graft.functions.MinHash.jaccardSorted _)
      } else (sh, graft.functions.MinHash.jaccardSortedStr _)
    val a = enc.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = enc.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard", merge(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  // ---- exact Jaccard at scale: prefix-filtered similarity join -------------

  /** Candidate pairs of the prefix-filtered exact-Jaccard join — every
    * pair of documents that shares at least one PREFIX token, with the
    * length filter already applied. Exposed separately so the pruning
    * power is measurable: `|candidates|` vs `n·(n−1)/2` is the number
    * the all-pairs comparison never gets to skip.
    *
    * The prefix-filter principle (Chaudhuri et al. "A Primitive Operator
    * for Similarity Joins", ICDE'06; Bayardo et al. "Scaling Up All
    * Pairs Similarity Search", WWW'07): order every document's distinct
    * shingle set by GLOBAL rarity (document frequency asc, shingle asc)
    * and keep only its first `|x| − ceil(t·|x|) + 1` shingles. Two sets
    * with Jaccard ≥ t must overlap in ≥ ceil(t·max(|x|,|y|)) elements,
    * so they cannot disagree on ALL of either's prefix — any qualifying
    * pair shares a prefix token, and blocking on prefix tokens is
    * complete (no recall loss, unlike MinHash banding). Rarity ordering
    * makes the blocks small: the common shingles that would put every
    * document in one bucket are exactly the ones pushed OUT of prefixes.
    *
    * Threshold is the exact rational `thresholdNum/thresholdDen` — the
    * prefix length, the length filter, and the final verify are all
    * integer arithmetic, so an external engine derives the identical
    * pair set with no float-boundary risk.
    *
    * Plan shape (all linear in corpus + candidate volume, never n²):
    * one shuffle on shingle for document frequency, one per-document
    * window (shuffle on id, per-doc sort of a set) for prefix
    * selection, one equi-join on prefix shingle for candidates. Hot
    * shingles that survive into prefixes are AQE-skew-split. */
  /** Distinct sorted shingle sets: `(id, sh, sz)` — the exact-verify
    * relation of the prefix-filtered join family. Persist it alongside
    * [[jaccardPrefixIndex]] to admit future batches without re-shingling
    * the corpus. */
  def jaccardShingleSets(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleSize: Int = 3,
      widen: Boolean = true): DataFrame = {
    // Par.ensure BEFORE the shingle expansion: the shingling (split +
    // windowed concat + distinct + sort per doc) is the CPU-dense step,
    // and a single-split input would otherwise run it on one task
    // (guide §2.5); the exchange moves only the slim (id, text) rows
    // and disappears at scale where the scan has ≥ cores splits.
    // `widen = false` for callers shingling a SMALL batch (incremental
    // admission), where the fan-out's fixed costs exceed the gain.
    val slim = df.select(col(idCol).as("id"), col(textCol).as("__t"))
    (if (widen) Par.ensure(slim) else slim)
      .select(col("id"),
        array_sort(array_distinct(T.wordShingles(col("__t"), shingleSize))).as("sh"))
      .withColumn("sz", size(col("sh")).cast("long"))
  }

  /** The prefix index `(tok, id, sz, pos)`: every document's first
    * `|x| − ceil(t·|x|) + 1` distinct shingles under the corpus's global
    * rarity order (document frequency asc, shingle asc), with the
    * in-prefix position for the positional filter. This IS the stored
    * side of incremental admission — build it once over the ingested
    * corpus, and every arriving batch probes it without the corpus ever
    * being re-shingled. */
  def jaccardPrefixIndex(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      thresholdNum: Int = 1,
      thresholdDen: Int = 2): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > 0 &&
      thresholdNum <= thresholdDen, "threshold must be in (0, 1]")
    jaccardPrefixIndexOfSets(jaccardShingleSets(df, textCol, idCol,
      shingleSize), thresholdNum, thresholdDen)
  }

  /** [[jaccardPrefixIndex]] over an already-computed `(id, sh, sz)`
    * shingle-set relation — the shared-scan form: [[jaccardPrefixPairs]]
    * shingles the corpus ONCE, checkpoints the sets, and derives the
    * index, the candidates, and the verify side from that one relation
    * instead of re-shingling per consumer (three corpus passes → one,
    * guide §1.2). */
  private[graft] def jaccardPrefixIndexOfSets(
      sets: DataFrame,
      thresholdNum: Int,
      thresholdDen: Int): DataFrame = {
    val toks = sets.select(col("id"), col("sz"), explode(col("sh")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // prefix length |x| − ceil(t·|x|) + 1, all-integer ceil division
    val prefixLen = col("sz") -
      expr(s"(${thresholdNum}L * sz + ${thresholdDen}L - 1L) div " +
        s"${thresholdDen}L") + lit(1L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("tok"))
    toks.join(dfreq, "tok")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= prefixLen)
      .select(col("tok"), col("id"), col("sz"),
        col("__rn").cast("long").as("pos"))
  }

  def jaccardPrefixCandidates(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      thresholdNum: Int = 1,
      thresholdDen: Int = 2): DataFrame =
    jaccardPrefixCandidatesOfSets(
      jaccardShingleSets(df, textCol, idCol, shingleSize),
      thresholdNum, thresholdDen)

  /** [[jaccardPrefixCandidates]] over an already-computed shingle-set
    * relation (see [[jaccardPrefixIndexOfSets]]). */
  private[graft] def jaccardPrefixCandidatesOfSets(
      sets: DataFrame,
      thresholdNum: Int,
      thresholdDen: Int): DataFrame = {
    val tn = lit(thresholdNum.toLong)
    val td = lit(thresholdDen.toLong)
    val prefix = jaccardPrefixIndexOfSets(sets, thresholdNum, thresholdDen)
    // length filter (Jaccard ≥ t forces t·|x| ≤ |y| ≤ |x|/t) plus the
    // PPJoin positional filter: every per-doc prefix is the GLOBAL
    // rarity order restricted to that doc, so all shared tokens beyond
    // the first shared one sit after it in BOTH docs — overlap is
    // bounded by 1 + min(|x|−pos_x, |y|−pos_y), and Jaccard ≥ t needs
    // overlap·(num+den) ≥ num·(|x|+|y|). A qualifying pair always
    // survives via its FIRST shared token (the bound is loosest there),
    // so or-ing the filter across shared tokens loses nothing — all
    // integer arithmetic
    prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          col("b.sz") * tn <= col("a.sz") * td &&
          col("a.sz") * tn <= col("b.sz") * td &&
          (lit(1L) + least(col("a.sz") - col("a.pos"),
            col("b.sz") - col("b.pos"))) * (tn + td) >=
            tn * (col("a.sz") + col("b.sz")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard pairs at threshold `thresholdNum/thresholdDen`
    * over the WHOLE corpus — same output as [[ngramJaccardPairs]]
    * (DedupSpec pins the equality) but via prefix-filtered candidate
    * generation instead of the all-pairs cross join, so it scales:
    * all-pairs compares n·(n−1)/2 pairs regardless of similarity;
    * this compares only pairs sharing a rare prefix shingle (measured
    * at sf0.01: see PLANS.md). The verify stage re-joins the full
    * sorted shingle sets and checks `inter·den ≥ union·num` exactly —
    * prefix blocking is complete, so this IS the exact answer, not an
    * approximation. */
  def jaccardPrefixPairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      thresholdNum: Int = 1,
      thresholdDen: Int = 2): DataFrame = {
    // ONE shingling pass: without the checkpoint the candidate side and
    // the two verify joins each re-shingle the corpus (measured 3×
    // ~8 s single-split passes at sf0.1 — the whole row's cost); the
    // checkpoint materializes exactly the relation the incremental form
    // persists as its stored index, so the scale story is unchanged
    val sets = jaccardShingleSets(df, textCol, idCol, shingleSize)
      .localCheckpoint(true)
    val cands = jaccardPrefixCandidatesOfSets(sets, thresholdNum,
      thresholdDen)
    val withSets = cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast("long") - inter
    withSets
      .withColumn("__i", inter).withColumn("__u", union)
      .filter(col("__i") * lit(thresholdDen.toLong) >=
        col("__u") * lit(thresholdNum.toLong))
      .select(col("id_a"), col("id_b"),
        round(col("__i").cast("double") / col("__u"), 4).as("jaccard"))
  }

  /** Incremental exact-Jaccard admission: drop every batch document
    * whose exact Jaccard with ANY already-ingested document reaches
    * `thresholdNum/thresholdDen`, judged ONLY from the stored
    * [[jaccardPrefixIndex]] + [[jaccardShingleSets]] relations — the
    * corpus text is never re-read, the incremental-dedup discipline of
    * [[incrementalMinhash]] but with EXACT verification instead of a
    * signature estimate (no false drops, no misses — the guarantee a
    * benchmark-decontamination gate needs).
    *
    * Completeness without a shared order: the batch probes its FULL
    * token sets (no batch-side prefix), so the store's rarity order
    * never has to agree with the arriving batch's frequencies — a
    * qualifying pair has overlap ≥ t·|s|, and the stored suffix only
    * holds ceil(t·|s|) − 1 tokens, so at least one shared token sits in
    * the stored PREFIX and the equi join on it finds the pair. Batch
    * tokens absent from the index simply match nothing.
    *
    * Plan shape: one narrow shingle pass over the batch, a slim
    * (tok, id, sz) equi join against the (bucketable) prefix index with
    * the integer length filter, one distinct on candidate id pairs, and
    * an exact verify against the stored sets — every stage O(batch ×
    * blocked-candidates), nothing corpus-sized moves. */
  def incrementalJaccardPrefix(
      batch: DataFrame,
      storePrefix: DataFrame,
      storeSets: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      thresholdNum: Int = 1,
      thresholdDen: Int = 2): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > 0 &&
      thresholdNum <= thresholdDen, "threshold must be in (0, 1]")
    val tn = lit(thresholdNum.toLong)
    val td = lit(thresholdDen.toLong)
    val bsets = jaccardShingleSets(batch, textCol, idCol, shingleSize,
      widen = false)
    val btoks = bsets.select(col("id").as("bid"), col("sz").as("bsz"),
      explode(col("sh")).as("tok"))
    val cands = btoks.join(
        storePrefix.select(col("tok"), col("id").as("sid"),
          col("sz").as("ssz")),
        Seq("tok"))
      .filter(col("ssz") * tn <= col("bsz") * td &&
        col("bsz") * tn <= col("ssz") * td)
      .select(col("bid"), col("sid")).distinct()
    val inter = size(array_intersect(col("bsh"), col("ssh"))).cast("long")
    val union = (size(col("bsh")) + size(col("ssh"))).cast("long") - inter
    val dupIds = cands
      .join(bsets.select(col("id").as("bid"), col("sh").as("bsh")), "bid")
      .join(storeSets.select(col("id").as("sid"), col("sh").as("ssh")), "sid")
      .filter(inter * td >= union * tn)
      .select(col("bid").as(idCol)).distinct()
    batch.join(dupIds, Seq(idCol), "left_anti")
  }

  // ---- embedding cosine near-dup -------------------------------------------

  /** Occupancy-adaptive hyperplane count: the smallest `p ≥ minPlanes`
    * with `n ≤ targetOccupancy · 2^p`, capped at `maxPlanes` — i.e. the
    * plane count that keeps EXPECTED bucket occupancy at or below
    * `targetOccupancy` as the corpus grows, so candidate-pair volume
    * stays ~`n · targetOccupancy / 2` (linear) instead of `n² / 2^p`
    * (quadratic at any FIXED `p`). A fixed default (the pre-round-9
    * behavior) has a hidden cliff: per-bucket occupancy grows linearly
    * with the corpus until the [[candidatePairs]] `maxBucket` guard
    * starts silently dropping every bucket — at 100 TB a fixed 256-bucket
    * space would block nothing and then drop everything.
    *
    * All-integer arithmetic (`n > target · 2^(p-1)` comparisons, no
    * log/ceil floats whose last-ulp could disagree across engines), so an
    * external SQL engine derives the identical count from the same `n` —
    * the plane count is part of the portable seed, not a tuning knob.
    * `minPlanes = 8` keeps every corpus up to `64·2^8 = 16384` rows on
    * exactly the historical 8-plane bucketing (existing oracles and
    * small-corpus outputs are unchanged); `maxPlanes = 24` bounds the
    * bucket-key space at 16M (occupancy starts growing again past ~1G
    * rows — raise it for corpora beyond that). `n` only steers bucket
    * GRANULARITY, so an approximate corpus count (a stored row count, a
    * sketch) is fine wherever exact replay is not required. */
  def adaptiveNumPlanes(n: Long, targetOccupancy: Int = 64,
      minPlanes: Int = 8, maxPlanes: Int = 24): Int = {
    require(targetOccupancy >= 1 && minPlanes >= 1 && maxPlanes >= minPlanes,
      s"bad adaptiveNumPlanes args: target=$targetOccupancy planes=[$minPlanes,$maxPlanes]")
    minPlanes +
      ((minPlanes + 1) to maxPlanes).count(p => n > (targetOccupancy.toLong << (p - 1)))
  }

  /** Resolve a `numPlanes` argument: positive = explicit (the caller owns
    * recall/occupancy), 0 = occupancy-adaptive from one `count()` of the
    * input. Callers pass the ALREADY-CHECKPOINTED projection from
    * [[withProjectionCache]], so the count reads the materialized blocks
    * the blocking scan will read — the corpus is still scanned exactly
    * once, and the count is a metadata pass over the checkpoint. */
  private[graft] def resolveNumPlanes(df: DataFrame, numPlanes: Int): Int =
    if (numPlanes > 0) numPlanes else adaptiveNumPlanes(df.count())

  /** Embedding near-dup pairs: hyperplane-LSH blocking + exact cosine ≥
    * `threshold` within buckets. `numPlanes` trades recall for bucket
    * size (more planes → smaller buckets → faster, lower recall);
    * 0 (the default) sizes it for constant expected occupancy via
    * [[adaptiveNumPlanes]]. */
  def embeddingDuplicatePairs(
      df: DataFrame,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      dim: Int = 64,
      threshold: Double = 0.95,
      numPlanes: Int = 0,
      seed: Long = 42L): DataFrame = {
    // single corpus scan: (id, vec) cached for this call; the adaptive
    // plane-count count, bucket keys and both verify sides all derive
    // from the cache instead of 5 more parquet scans
    withProjectionCache(
      df.select(col(idCol).as("id"), col(vecCol).as("vec"))) { vecs =>
      val planes = V.randomPlanes(resolveNumPlanes(vecs, numPlanes), dim, seed)
      val blocked = vecs
        .withColumn("bucket", V.hyperplaneBucket(col("vec"), planes))
        .select(col("bucket"), col("id"))
      candidatePairs(blocked, "bucket", "id")
        .join(vecs.select(col("id").as("id_a"), col("vec").as("v_a")), "id_a")
        .join(vecs.select(col("id").as("id_b"), col("vec").as("v_b")), "id_b")
        .withColumn("cos", V.cosineFused(col("v_a"), col("v_b")))
        .filter(col("cos") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
    }
  }

  def embedding(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", dim: Int = 64,
      threshold: Double = 0.95, numPlanes: Int = 0): DataFrame = {
    val dupIds = embeddingDuplicatePairs(df, vecCol, idCol, dim, threshold,
        numPlanes)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  // ---- portable (cross-engine) hyperplane LSH ------------------------------

  /** Candidate pairs from PORTABLE hyperplane blocking in isolation — the
    * bucket-selection stage the Gaussian-plane default leaves rows-only,
    * hash-checkable because the bucket bits are exact integer arithmetic
    * from md5-derived plane components (see
    * [[graft.functions.VectorFunctions.portablePlanes]]); an external
    * engine recomputing the same closed form must produce the identical
    * pair set. Runs through the production [[candidatePairs]] machinery
    * (hot-bucket guard, streamed in-bucket expansion). `numPlanes = 0`
    * (default) derives the plane count from the corpus count via
    * [[adaptiveNumPlanes]] — still fully portable: the count is a
    * property of the data, so the external engine derives the identical
    * plane count from its own `count(*)` with the same integer
    * arithmetic. */
  def embeddingPortableCandidates(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", dim: Int = 64,
      numPlanes: Int = 0): DataFrame = {
    withProjectionCache(
      df.select(col(idCol).as("id"), col(vecCol).as("vec"))) { vecs =>
      val planes = V.portablePlanes(resolveNumPlanes(vecs, numPlanes), dim)
      val blocked = vecs
        .withColumn("bucket", V.portableBucketBits(col("vec"), planes))
        .select(col("bucket"), col("id"))
      candidatePairs(blocked, "bucket", "id")
    }
  }

  /** Full portable embedding dedup: integer-exact hyperplane blocking →
    * candidate pairs → exact cosine verify → drop every vector with a
    * verified smaller-id near-dup. Every stage is reproducible in
    * closed-form SQL (the verify cosine is the same double algebra the
    * `embedding_dup_brute` oracle already hash-matches), so the whole
    * block→verify→anti-join pipeline is end-to-end checkable; the
    * Gaussian-plane [[embedding]] stays the performance default. */
  def embeddingPortable(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", dim: Int = 64,
      threshold: Double = 0.4, numPlanes: Int = 0): DataFrame = {
    val dupIds = withProjectionCache(
        df.select(col(idCol).as("id"), col(vecCol).as("vec"))) { vecs =>
      val planes = V.portablePlanes(resolveNumPlanes(vecs, numPlanes), dim)
      val blocked = vecs
        .withColumn("bucket", V.portableBucketBits(col("vec"), planes))
        .select(col("bucket"), col("id"))
      candidatePairs(blocked, "bucket", "id")
        .join(vecs.select(col("id").as("id_a"), col("vec").as("v_a")), "id_a")
        .join(vecs.select(col("id").as("id_b"), col("vec").as("v_b")), "id_b")
        .filter(V.cosineFused(col("v_a"), col("v_b")) >= threshold)
        .select(col("id_b"))
        .distinct()
    }
    df.join(dupIds.withColumnRenamed("id_b", idCol), Seq(idCol), "left_anti")
  }

  /** [[embeddingPortable]] with an EXACT-DUPLICATE TIER first — the
    * embedding twin of the text pipeline's tiered exact→minhash dedup.
    * Bit-identical vectors collapse to their min-id representative in
    * one hash aggregate, and only representatives enter the pairwise
    * block/verify stage. Provably the same survivor set: a non-min
    * member always has its representative as a smaller-id exact dup
    * (cosine 1 ≥ any threshold) so it can never survive, and a
    * representative is dropped by some group iff it is dropped by that
    * group's min-id member (all members share one vector, hence one
    * cosine). Cost collapses from O(Σ group²) pairwise verifies — a
    * corpus with deep exact-duplicate pockets (the common crawl reality)
    * spends its whole budget re-verifying identical pairs — to one
    * LINEAR aggregate plus pairwise work over distinct vectors only. */
  def embeddingPortableTiered(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", dim: Int = 64,
      threshold: Double = 0.4, numPlanes: Int = 0): DataFrame = {
    // numPlanes = 0 adapts to the REPRESENTATIVE count (inside
    // embeddingPortable): deep exact-duplicate pockets don't inflate the
    // bucket-space sizing — a 100×-replicated corpus blocks at the
    // granularity of its distinct vectors
    val reps = df.groupBy(col(vecCol))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col(vecCol))
    val surviving = embeddingPortable(reps, vecCol, idCol, dim,
        threshold, numPlanes)
      .select(col(idCol))
    df.join(surviving, Seq(idCol), "left_semi")
  }

  /** Bloom-pruned incremental exact dedup — the wide-batch shape of
    * [[incrementalExact]]. A bloom sketch of the seen-fingerprint store is
    * built DISTRIBUTED (`BloomFilterAggregate`, one partial-combined
    * aggregate — the same machinery Spark's runtime join filters use);
    * only the merged ~MB sketch reaches the driver, where it embeds as a
    * codegen'd literal predicate (`BloomFilterMightContain`) on the batch.
    * Rows the bloom rejects are DEFINITELY new (no false negatives) and
    * skip the anti-join entirely; only the might-contain slice — true
    * dups plus an `fpp` sliver of false positives — shuffles against the
    * store. With a mostly-novel daily batch that cuts the join's probe
    * side from |batch| to ~|dups|, while the OUTPUT stays bit-identical
    * to [[incrementalExact]]: the bloom only routes rows, the exact
    * anti-join still adjudicates every candidate (the oracle runs the
    * same SQL for both paths). */
  def incrementalExactBloom(batch: DataFrame, seenFps: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      fpCol: String = "fp", fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // sizing pass over the fingerprint-only store (metadata-cheap next to
    // the batch scan); the sketch keys on xxhash64 of the fingerprint on
    // BOTH the build and probe sides
    val n = math.max(1L, seenFps.count())
    val sketch = seenFps
      .select(Bridge.column(new BloomFilterAggregate(
          Bridge.expression(xxhash64(col(fpCol))), n)
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    // the in-batch dedup aggregate feeds BOTH bloom branches — scope-cache
    // it so the batch is fingerprinted and deduped once, not per branch
    withProjectionCache(exact(batch, textCol, idCol)
        .withColumn(fpCol, T.fingerprint(col(textCol)))) { fresh =>
      val might = Bridge.column(BloomFilterMightContain(
        Bridge.expression(lit(sketch)),
        Bridge.expression(xxhash64(col(fpCol)))))
      val candidates = fresh.filter(might)
        .join(seenFps.select(col(fpCol)), Seq(fpCol), "left_anti")
      fresh.filter(!might).unionByName(candidates).drop(fpCol)
    }
  }

  // ---- incremental near-dup (stored band table) ----------------------------

  /** The storable corpus form for INCREMENTAL near-dup: one `(band, id)`
    * row per document per band under portable md5 banding. Stage it
    * bucketed on `band` once (`TableStore.stageBucketed`) and every
    * future batch probes it without re-reading corpus text — near-dup
    * admission control at O(increment), the banded counterpart of the
    * exact fingerprint store [[incrementalExact]] joins against. */
  def minhashBandTable(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 16, portable: Boolean = false,
      widen: Boolean = true): DataFrame = {
    // Par.ensure below the shingle+signature map (guide §2.5): both the
    // store build and the incremental probe shingle THOUSANDS of docs,
    // and a single-split input (or a narrow join output) pins that to
    // one task — measured 1.8 s of the incremental row's 2.5 s.
    // `widen = false` for per-micro-batch streaming callers, where the
    // fan-out's fixed costs exceed the gain (the jaccardShingleSets rule)
    def spread(d: DataFrame): DataFrame = if (widen) Par.ensure(d) else d
    if (portable)
      // md5 banding — the cross-engine-checkable mode the oracle replays
      spread(df.select(col(idCol).as("id"), col(textCol).as("__t")))
        .select(col("id"),
          array_distinct(portableShingleStrings(col("__t"), shingleSize)).as("shd"))
        .select(explode(portableBandKeys(col("shd"), numHashes, bands)).as("band"),
          col("id"))
    else
      // production mode: codegen'd shingle-hash kernel + xxhash64 band
      // keys — 8-byte bands instead of md5 strings, the 100 TB default
      spread(df.select(col(idCol).as("id"), col(textCol).as("__t")))
        .select(col("id"),
          graft.functions.MinHash.shingleHashesSorted(
            split(lower(trim(col("__t"))), "\\s+"), shingleSize).as("sh"))
        .select(explode(lshBandKeys(
            graft.functions.MinHash.signatureFromHashes(col("sh"), numHashes),
            bands, numHashes / bands)).as("band"),
          col("id"))
  }

  /** Incremental MinHash near-dup: drop every batch document with a
    * near-duplicate already in the corpus, judged ONLY from the stored
    * band table — no corpus text, no corpus rescan. Batch docs are
    * banded identically; a batch doc is a near-dup of a stored doc when
    * at least `minBandMatches` of their band keys agree (a band agrees
    * only when every row-minimum inside it matched, so the agreement
    * count is a deterministic signature-based similarity estimate:
    * P(band) = j^rows). Store bands with more than `maxBand` members are
    * dropped before the join — the degenerate-key policy shared with
    * [[candidatePairs]], bounding fan-out under boilerplate floods.
    *
    * Plan shape: the batch is shingled+banded in one narrow pass; the
    * join carries slim `(band, id)` rows against the (bucketed) store;
    * the per-(batch, store) agreement count is a partial-combined hash
    * aggregate; the final anti-join is batch-sized. At 100 TB only the
    * increment is ever scanned as text. */
  def incrementalMinhash(batch: DataFrame, storeBands: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minBandMatches: Int = 6, maxBand: Int = 10000,
      portable: Boolean = false): DataFrame = {
    // the probe MUST band in the same mode the store was built with
    val probe = minhashBandTable(batch, textCol, idCol, shingleSize,
      numHashes, bands, portable)
    val bandOk = storeBands.groupBy(col("band"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBand)
      .select(col("band"))
    val store = storeBands.select(col("band"), col("id").as("store_id"))
      .join(bandOk, "band")
    val dupIds = probe.join(store, "band")
      .groupBy(col("id"), col("store_id"))
      .agg(count(lit(1)).as("__nb"))
      .filter(col("__nb") >= minBandMatches)
      .select(col("id").as(idCol))
      .distinct()
    batch.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Duplicate-pair relation judged ONLY from a band table: canonical
    * `(id_a < id_b)` pairs whose band keys agree on ≥ `minBandMatches`
    * of the `bands` slots — the [[incrementalMinhash]] admission
    * criterion as a symmetric pair relation (P(band) = j^rows, so the
    * agreement count is a deterministic signature-based similarity
    * estimate needing NO document text). Bands larger than `maxBand`
    * drop first (the shared degenerate-key policy). */
  def bandAgreementPairs(bands: DataFrame, minBandMatches: Int = 6,
      maxBand: Int = 10000): DataFrame = {
    val ok = bands.groupBy(col("band")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBand).select(col("band"))
    val b = bands.select(col("band"), col("id")).join(ok, "band")
    b.select(col("band"), col("id").as("id_a"))
      .join(b.select(col("band"), col("id").as("id_b")), "band")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("__nb"))
      .filter(col("__nb") >= minBandMatches)
      .select(col("id_a"), col("id_b"))
  }

  /** Cluster-assignment SEED for incremental clustering: transitive
    * closure of [[bandAgreementPairs]] over a stored band table —
    * `(id, cluster_id)` for every banded document, derivable from the
    * band relation alone (no corpus text). Built once at ingest store
    * creation; [[incrementalClusters]] maintains it per batch. */
  def clustersFromBands(bands: DataFrame, minBandMatches: Int = 6,
      maxBand: Int = 10000): DataFrame =
    Graph.connectedComponents(
        bandAgreementPairs(bands, minBandMatches, maxBand), "id_a", "id_b",
        nodes = Some(bands.select(col("id")).distinct()), nodeCol = "id")
      .select(col("node").as("id"), col("component").as("cluster_id"))

  /** INCREMENTAL transitive clustering: fold a batch into a stored
    * cluster assignment touching only the batch and the clusters it
    * collides with — never re-clustering (or re-shingling) the corpus.
    *
    * Inputs are the two stored relations an ingest pipeline keeps
    * anyway: the band table ([[minhashBandTable]], probed by
    * [[incrementalMinhash]]) and the assignment seed
    * ([[clustersFromBands]]). The batch is banded once; new edges are
    * the band-agreement pairs with at least one batch endpoint;
    * UNTOUCHED clusters carry over without being read past the
    * semi-join; the closure re-runs only on (touched stars ∪ new
    * edges) — star edges `(cluster_id, id)` preserve the store's full
    * connectivity by construction, so the result EQUALS a from-scratch
    * [[clustersFromBands]] over store ∪ batch whenever the `maxBand`
    * guard stays inert (untouched components keep their min label
    * because the batch doesn't touch them; touched components re-derive
    * theirs from the union graph — correct for ANY id ordering, though
    * append-only increasing ids are the normal ingest shape;
    * hash-oracled at both verify SFs and spec-pinned). O(batch +
    * touched) work at any corpus size: the 100 TB shape for daily
    * cluster maintenance. The probe/edge checkpoints are batch-sized
    * and live until the returned frame is GC'd. */
  def incrementalClusters(batch: DataFrame, storeBands: DataFrame,
      storeAssign: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 16, minBandMatches: Int = 6, maxBand: Int = 10000,
      portable: Boolean = false): DataFrame = {
    val assign = storeAssign.select(col("id"), col("cluster_id"))
    val (delta, touchedClusters) = incrementalClustersDelta(batch,
      storeBands, assign, textCol, idCol, shingleSize, numHashes, bands,
      minBandMatches, maxBand, portable)
    // carried rows must dodge the delta on BOTH axes: touched clusters
    // (their members re-derive) AND the delta's ids — a redelivered or
    // id-overwriting batch contains ids the store already assigned, and
    // if such an id's cluster is untouched (no new edges) the carried
    // row would otherwise survive alongside the delta's re-emission,
    // yielding two (possibly conflicting) rows per id. Delta wins.
    assign.join(touchedClusters, Seq("cluster_id"), "left_anti")
      .join(delta.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("cluster_id"))
      .unionByName(delta)
  }

  /** The CHANGED-ROWS form of [[incrementalClusters]]: returns
    * `(delta, touchedClusters)` where `delta` is the re-derived
    * assignment for the batch plus every collided cluster's members —
    * exactly the rows an upsert-by-id against the stored assignment
    * needs (the streaming sink's shape: the delta is O(batch + touched)
    * rows, and re-applying it is idempotent because the closure result
    * is a pure function of bands ∪ batch). */
  private[graft] def incrementalClustersDelta(batch: DataFrame,
      storeBands: DataFrame, assign: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 16, minBandMatches: Int = 6, maxBand: Int = 10000,
      portable: Boolean = false,
      widen: Boolean = true): (DataFrame, DataFrame) = {
    val probe = minhashBandTable(batch, textCol, idCol, shingleSize,
      numHashes, bands, portable, widen).localCheckpoint(true)
    // distinct: under crash-retry the store may ALREADY hold this
    // batch's bands (the bands commit landed, the assignment commit
    // didn't) — duplicated (band, id) rows would double pair counts
    val all = storeBands.select(col("band"), col("id")).unionByName(probe)
      .distinct()
    // guard over the COMBINED relation (store + probe): the closure's
    // full-recompute twin counts the same way
    val ok = all.groupBy(col("band")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBand).select(col("band"))
    val newEdges = probe.join(ok, "band")
      .select(col("band"), col("id").as("pa"))
      .join(all.join(ok, "band").select(col("band"), col("id").as("ob")), "band")
      .filter(col("pa") =!= col("ob"))
      // canonicalize BEFORE counting: a batch–batch pair meets once per
      // band from each side, and a double-counted band would halve the
      // effective agreement threshold
      .select(col("band"), least(col("pa"), col("ob")).as("u"),
        greatest(col("pa"), col("ob")).as("v"))
      .distinct()
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("__nb"))
      .filter(col("__nb") >= minBandMatches)
      .select(col("u").as("id_a"), col("v").as("id_b"))
      .localCheckpoint(true)
    val endpoints = newEdges.select(col("id_a").as("id"))
      .union(newEdges.select(col("id_b").as("id"))).distinct()
    val touchedClusters = assign.join(endpoints, Seq("id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val touchedStars = assign.join(touchedClusters, Seq("cluster_id"), "left_semi")
    val cc = Graph.connectedComponents(
      newEdges.unionByName(
        touchedStars.select(col("cluster_id").as("id_a"), col("id").as("id_b"))),
      "id_a", "id_b",
      nodes = Some(batch.select(col(idCol).as("id"))
        .union(touchedStars.select(col("id")))), nodeCol = "id")
    (cc.select(col("node").as("id"), col("component").as("cluster_id")),
      touchedClusters)
  }

  // ---- semantic (centroid-blocked) dedup -----------------------------------

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * assign every embedding to its nearest centroid, score cosine only
    * *within* a cell, and drop every vector with a same-cell near-dup of
    * smaller id. Complements the hyperplane-LSH [[embeddingPortable]]:
    * clustering blocks by semantic neighborhood — near-dups land in one
    * cell even when a random hyperplane happens to split them — at the
    * cost of a centroid fit.
    *
    * `centers` is injected: production feeds k-means centers from
    * [[Similarity.ivfFit]]; the oracle feeds the fixed md5-derived
    * [[graft.functions.VectorFunctions.portableCentroids]] so DuckDB can
    * replay assignment as a closed-form argmin — the SAME function body
    * either way (no parallel oracled implementation).
    *
    * Plan shape: one cached corpus scan; assignment is a narrow map of the
    * native `NearestCenter` expression; the only pre-verify shuffle
    * carries slim `(cell, id)` rows; in-cell pair expansion runs through
    * [[candidatePairs]] with its hot-cell guard (`maxCell`), so one
    * mega-cluster cannot go quadratic at 100 TB — SemDeDup prescribes
    * raising the cell count until clusters are scoring-sized, and the
    * guard enforces that assumption instead of silently melting down. */
  def semantic(df: DataFrame, centers: Array[Array[Double]],
      vecCol: String = "embedding", idCol: String = "vec_id",
      threshold: Double = 0.4, maxCell: Int = 10000): DataFrame = {
    val dupIds = withProjectionCache(
        df.select(col(idCol).as("id"), col(vecCol).as("vec"))) { vecs =>
      val blocked = vecs
        .withColumn("cell", V.nearestCenter(col("vec"), centers))
        .select(col("cell"), col("id"))
      candidatePairs(blocked, "cell", "id", maxCell)
        .join(vecs.select(col("id").as("id_a"), col("vec").as("v_a")), "id_a")
        .join(vecs.select(col("id").as("id_b"), col("vec").as("v_b")), "id_b")
        .filter(V.cosineFused(col("v_a"), col("v_b")) >= threshold)
        .select(col("id_b"))
        .distinct()
    }
    df.join(dupIds.withColumnRenamed("id_b", idCol), Seq(idCol), "left_anti")
  }

  // ---- transitive duplicate groups -----------------------------------------

  /** Connected components over a duplicate-pair edge list: every node gets
    * `group_id` = the smallest id reachable through any chain of pairs.
    * Resolves the transitive case the smallest-id-per-PAIR policy of the
    * `minhash`/`simhash`/`embedding` dedup entry points does not: A~B and
    * B~C but not A~C (near-dup chains across a long document drift).
    *
    * Delegates to [[Graph.connectedComponents]] (alternating large-star /
    * small-star contraction): the earlier one-hop min-label propagation
    * here needed O(diameter) rounds — fine for clique-shaped near-dup
    * groups, but a deliberate long chain forced callers to raise
    * `maxIterations` by hand; star contraction converges in O(log²)
    * rounds on ANY shape, so the knob is now just a loud-failure
    * backstop and chains cost the same as cliques. */
  def duplicateGroups(pairs: DataFrame, maxIterations: Int = 50): DataFrame =
    Graph.connectedComponents(pairs, "id_a", "id_b", maxIter = maxIterations)
      .select(col("node").as("id"), col("component").as("group_id"))

  /** Cluster-representative selection by DUPLICATION CENTRALITY: within
    * each transitive duplicate cluster keep the member with the highest
    * centrality rank (ties → smallest id) — the survivor policy that
    * acts on what [[graft.operators.Graph.pageRank]] over the near-dup
    * similarity graph measures. A score policy ([[exactKeepBest]],
    * `dedup_cluster_keep_best`) keeps the "best" INDIVIDUAL document
    * (longest, highest quality); centrality keeps the most
    * REPRESENTATIVE one — the revision the rest of the cluster is
    * closest to, which is what a training pipeline wants when the
    * cluster is a drift chain and the longest member is the outlier end
    * of it (DedupSpec pins a cluster where the two policies disagree).
    *
    * `clusters` is `(idCol, clusterCol)` ([[duplicateGroups]] /
    * [[clusters]] output); `ranks` is `(idCol, rankCol)` (the PageRank
    * relation keyed by the same ids). Members missing from `ranks` rank
    * at 0 — below any ranked member, since rank lattices are strictly
    * positive. One partial-combined max(struct) aggregate per cluster —
    * no window over the corpus, the [[exactKeepBest]] plan shape.
    * Output: `(clusterCol, kept_id, cluster_size)`. */
  def keepCentral(clusters: DataFrame, ranks: DataFrame,
      idCol: String = "doc_id", clusterCol: String = "cluster_id",
      rankCol: String = "rank_scaled"): DataFrame =
    clusters
      .join(ranks.select(col(idCol), col(rankCol).as("__r")),
        Seq(idCol), "left")
      .groupBy(col(clusterCol))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(coalesce(col("__r"), lit(0L)).as("r"),
          (-col(idCol)).as("nid"))).as("__best"))
      .select(col(clusterCol), (-col("__best.nid")).as("kept_id"),
        col("cluster_size"))
}
